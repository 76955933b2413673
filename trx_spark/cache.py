"""The session-scoped memo store for shared build stages.

Several query families share a derived stage — the curve bank, the
events diff bank, tokenized streams, quality signals, trained
codebooks, LSH buckets and pairs — and build it once per session
(PLANS.md round-3 section). :func:`memo` is the one mechanism for
that:

- **Key.** An entry is stored under ``(name, key)``. ``name`` is the
  stage's build-stamp name; ``key`` is whatever identifies the input,
  normally ``(spark, sf_dir)``. A stage that stores ``None`` is still a
  hit: membership, not truthiness, decides.
- **Session scoping.** The key holds the live ``SparkSession`` itself,
  so a fresh session misses and can never read a stale checkpoint from
  another. The reference is strong on purpose: a cached DataFrame
  references its session anyway, so a weak key would free nothing.
  Instead every miss evicts the entries of sessions that have been
  stopped, so a long-lived process that starts session after session
  holds only the live sessions' entries.
- **Stamps.** Every build appends ``{name, sec, payer}`` to
  ``MEMO_BUILDS`` through :func:`build_done`; ``CURRENT_CONSUMER`` names
  the query that paid for it. Stamps are inclusive: a build that
  triggers another memo's build contains that build's seconds too.
- **Clearing.** ``clear_stage_caches()`` drops every entry — call it
  between datasets in a long-running service, since the entries hold
  ``localCheckpoint`` blocks. ``stage_cache_stats()`` counts the
  entries per name.
"""

from __future__ import annotations

import time
from collections import Counter, deque

# Only the last ``MEMO_BUILDS_KEPT`` stamps are kept, so a long-lived
# session's log stays bounded.  A full ``bench.py`` run at sf0.1 stamps
# 407 builds (54 in the amortized pass, 352 in the cold pass, 1 with no
# payer; the steady pass builds none; 132 of them are
# ``fan_out_partitions``, which misses after every cold-pass clear), so
# the cap leaves a 5x margin; ``bench.py`` warns when the log reaches it.
MEMO_BUILDS_KEPT = 2048
MEMO_BUILDS: deque[dict] = deque(maxlen=MEMO_BUILDS_KEPT)
CURRENT_CONSUMER: str | None = None

_STORE: dict[tuple, object] = {}


def memo(name: str, key, build):
    """Return the value stored under ``(name, key)``; on a miss call
    ``build()``, store its result and stamp the build. A miss first
    drops every entry whose key holds a stopped session."""
    k = (name, key)
    if k not in _STORE:
        for dead in [sk for sk in _STORE if _holds_stopped_session(sk[1])]:
            del _STORE[dead]
        t0 = time.perf_counter()
        _STORE[k] = build()
        build_done(name, t0)
    return _STORE[k]


def _holds_stopped_session(key) -> bool:
    """A session whose context is stopped has ``sparkContext._jsc is None``."""
    parts = key if isinstance(key, tuple) else (key,)
    return any(
        getattr(getattr(p, "sparkContext", None), "_jsc", True) is None for p in parts
    )


def build_done(name: str, t0: float) -> None:
    MEMO_BUILDS.append(
        {
            "name": name,
            "sec": round(time.perf_counter() - t0, 3),
            "payer": CURRENT_CONSUMER,
        }
    )


def clear_stage_caches(spark=None) -> int:
    """Drop every memoized shared stage; returns the number of entries
    cleared. Safe at any time — the next consumer simply rebuilds.

    The memos hold ``localCheckpoint``-ed DataFrames whose executor
    blocks are NOT freed by clearing the store — they linger until
    Python GC and the py4j finalizer queue get around to them, which
    under a long benchmark session shows up as storage-memory pressure
    and GC pauses. Pass the ``spark`` session to also unpersist every
    persistent RDD immediately (safe here: after the store is cleared
    nothing references the checkpoint blocks; per-query transient
    checkpoints are rebuilt by the next query anyway)."""
    n = len(_STORE)
    _STORE.clear()
    if spark is not None:
        # py4j exposes the JavaSparkContext's map as a dict-like view
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
    return n


def stage_cache_stats() -> dict[str, int]:
    """Entry counts per memo name (for diagnostics/monitoring)."""
    return dict(Counter(name for name, _ in list(_STORE)))
