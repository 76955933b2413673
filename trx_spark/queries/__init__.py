"""Correctness-gate queries: one entry per implemented operator
(SURVEY.md §2), each with a DuckDB oracle SQL string.

Every Spark query and its oracle are written against the driver's
testdata tables; the scalar math uses identical expression trees and the
aggregates use fixed-point integer sums (see :mod:`trx_spark.exact`), so
the two engines produce bit-identical values.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import pkgutil
import re
from collections.abc import Callable, Iterable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

from trx_spark.sources import textio

QueryFn = Callable[[SparkSession, str], DataFrame]

# the driver hashes this many leading registry entries per round; the
# bench telemetry stamps it so committed artifacts track resizes
GATE_WINDOW = 50

# Names rewritten since their newest driver row: they lead the gate
# window so the next round re-checks them.  Drop an entry once a newer
# CORRECTNESS_r*.json round holds it; the ledger fill below then files
# it by that row like every other name.
GATE_LEAD = [
    "suppliers_kept_waiting",
    "shingle_minhash_recall",
    "allpairs_jaccard_join",
    "ngram_jaccard_pairs",
    "semantic_dedup",
    "decontam_bloom_flags",
    "classifier_gd_round_stats",
    "streaming_manifest",
    "streaming_heavy_hitters",
    "streaming_heavy_hitters_windowed",
]

# the committed correctness ledger sits next to the trx_spark package
_LEDGER_DIR = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def assemble(mods: Iterable[ModuleType]) -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Merge the modules' ``QUERIES``/``ORACLES``; a name exported by two
    modules raises instead of one silently replacing the other."""
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for mod in mods:
        for have, add in ((queries, mod.QUERIES), (oracles, mod.ORACLES)):
            dup = sorted(have.keys() & add.keys())
            if dup:
                raise ValueError(f"{mod.__name__} re-exports registry names {dup}")
            have.update(add)
    return queries, oracles


def ledger_rounds(ledger_dir: str = _LEDGER_DIR) -> dict[str, int]:
    """``{name: newest driver round}`` from the ``CORRECTNESS_r*.json``
    ledger in ``ledger_dir``, for registry names only.  No ledger (an
    executor importing from the package zip) gives ``{}``."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(ledger_dir, "CORRECTNESS_r*.json")):
        # the round comes from the basename: an ancestor directory
        # containing '_r<n>' must not shadow it
        rnd = int(re.search(r"_r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            for name in json.load(f):
                if name in QUERIES:
                    newest[name] = max(rnd, newest.get(name, 0))
    return newest


def gate_order(
    names: Iterable[str], oracles: dict[str, str], newest: dict[str, int]
) -> list[str]:
    """``GATE_LEAD``, then every other oracle-bearing name by (newest
    driver round, never checked = 0; name), then the no-oracle names."""
    names = list(names)
    missing = sorted(set(GATE_LEAD) - {n for n in names if n in oracles})
    if missing:
        raise ValueError(f"GATE_LEAD names without a registered oracle: {missing}")
    fill = sorted(
        (n for n in names if n in oracles and n not in GATE_LEAD),
        key=lambda n: (newest.get(n, 0), n),
    )
    return GATE_LEAD + fill + sorted(n for n in names if n not in oracles)


QUERIES, ORACLES = assemble(
    [importlib.import_module(f"{__name__}.{m.name}") for m in pkgutil.iter_modules(__path__)]
    + [textio]
)
_order = gate_order(QUERIES, ORACLES, ledger_rounds())
QUERIES = {n: QUERIES[n] for n in _order}
ORACLES = {n: ORACLES[n] for n in _order if n in ORACLES}
