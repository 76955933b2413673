"""The reference reduction's oracle SQL is spelled once: the as-of
reference ladder (J2) and the every-second-reference rule (W2) each
come from one builder in ``queries/trxdomain.py``, so a fix to either
rule lands in every oracle that uses it."""

from __future__ import annotations

import pathlib

import trx_spark

_QUERIES = pathlib.Path(trx_spark.__file__).parent / "queries"

# one token of each rule's text that no other SQL spells
_RULES = {
    "as-of reference ladder": "AS secondlast_ref_val",
    "W2 every-second-reference rule": "rn % 2 = 1) AS use_row",
}


def test_each_reduction_rule_is_spelled_once():
    sites = {rule: [] for rule in _RULES}
    for path in sorted(_QUERIES.glob("*.py")):
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
            for rule, token in _RULES.items():
                if token in line:
                    sites[rule].append(f"{path.name}:{n}")
    assert {rule: len(s) for rule, s in sites.items()} == {rule: 1 for rule in _RULES}, sites
