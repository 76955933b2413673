"""The registry order the driver's correctness gate reads: the hand-set
``GATE_LEAD`` first, then the oracle-bearing names oldest newest-driver-
row first (from the committed CORRECTNESS_r*.json ledger), then the
no-oracle names."""

from __future__ import annotations

import types

import pytest

from trx_spark.queries import (
    GATE_LEAD,
    GATE_WINDOW,
    ORACLES,
    QUERIES,
    assemble,
    gate_order,
    ledger_rounds,
)

NAMES = list(QUERIES)


def test_window_opens_with_gate_lead():
    assert NAMES[: len(GATE_LEAD)] == GATE_LEAD
    assert len(set(GATE_LEAD)) == len(GATE_LEAD)


def test_window_is_full_and_oracle_bearing():
    window = NAMES[:GATE_WINDOW]
    assert len(window) == GATE_WINDOW
    assert all(n in ORACLES for n in window)


def test_fill_follows_the_ledger():
    newest = ledger_rounds()
    assert newest, "the committed ledger should be readable"
    assert set(newest) <= set(QUERIES)
    fill = [n for n in NAMES[len(GATE_LEAD):] if n in ORACLES]
    keys = [(newest.get(n, 0), n) for n in fill]
    assert keys == sorted(keys)


def test_no_oracle_names_come_last():
    no_oracle = [n for n in NAMES if n not in ORACLES]
    assert no_oracle
    assert NAMES[-len(no_oracle):] == sorted(no_oracle)
    assert list(ORACLES) == [n for n in NAMES if n in ORACLES]


def test_empty_ledger_fills_alphabetically(tmp_path):
    assert ledger_rounds(str(tmp_path)) == {}
    order = gate_order(QUERIES, ORACLES, {})
    fill = [n for n in order[len(GATE_LEAD):] if n in ORACLES]
    assert fill == sorted(n for n in ORACLES if n not in GATE_LEAD)
    assert sorted(order) == sorted(QUERIES)


def test_ledger_round_comes_from_the_basename(tmp_path):
    ledger = tmp_path / "run_r99"
    ledger.mkdir()
    (ledger / "CORRECTNESS_r03.json").write_text('{"pricing_summary": {}, "not_a_query": {}}')
    (ledger / "CORRECTNESS_r07.json").write_text('{"pricing_summary": {}}')
    assert ledger_rounds(str(ledger)) == {"pricing_summary": 7}


def _stub(name, queries):
    mod = types.ModuleType(name)
    mod.QUERIES = {q: (lambda spark, sf_dir: None) for q in queries}
    mod.ORACLES = {q: "SELECT 1" for q in queries}
    return mod


def test_duplicate_export_raises():
    a, b = _stub("stub_a", ["x", "y"]), _stub("stub_b", ["y", "z"])
    assert list(assemble([a])[0]) == ["x", "y"]
    with pytest.raises(ValueError, match="stub_b.*'y'"):
        assemble([a, b])
