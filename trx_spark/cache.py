"""Management of the session-scoped shared-stage caches.

Several query families memoize a localCheckpoint'ed build stage per
(session, sf_dir) — the curve bank, events diff bank, tokenized base +
derived streams, quality signals, trained codebooks, LSH buckets and
pairs (PLANS.md round-3 section). The caches are keyed by the LIVE
SparkSession so they can never serve stale data to a new session, but
a long-lived session that processes many datasets accumulates
checkpoint blocks. ``clear_stage_caches()`` drops every entry (and the
blocks, once the frames are garbage-collected) — call it between
datasets in a long-running service.
"""

from __future__ import annotations

import time
from collections import deque
from contextlib import contextmanager

# Build-time telemetry for the shared-stage memos (r12/r13 verdict
# task: "per-memo build-time stamps in BENCH_DETAIL").  Each memoized
# build site wraps its construction in ``timed_build(name)``; the
# bench sets ``CURRENT_CONSUMER`` to the query paying for the build,
# so amortized numbers decompose into build vs ride from the artifact
# alone.  Zero overhead outside the build branch (two perf_counter
# calls per memo construction).  Only the last ``MEMO_BUILDS_KEPT``
# stamps are kept, so a long-lived session's log stays bounded.  A
# full ``bench.py`` run at sf0.1 stamps 236 builds (38 in the amortized
# pass, 197 in the cold pass, 1 with no payer; the steady pass builds
# none), so the cap leaves a 4x margin; ``bench.py`` warns when the log
# reaches it.
MEMO_BUILDS_KEPT = 1024
MEMO_BUILDS: deque[dict] = deque(maxlen=MEMO_BUILDS_KEPT)
CURRENT_CONSUMER: str | None = None


@contextmanager
def timed_build(name: str):
    """Record how long a shared-stage memo took to build and which
    query paid for it (the bench stamps the payer)."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        build_done(name, t0)


def build_start() -> float:
    """Start-of-build stamp (pairs with :func:`build_done`; the two-call
    form avoids re-indenting existing build branches)."""
    return time.perf_counter()


def build_done(name: str, t0: float) -> None:
    MEMO_BUILDS.append(
        {
            "name": name,
            "sec": round(time.perf_counter() - t0, 3),
            "payer": CURRENT_CONSUMER,
        }
    )


def _all_caches() -> list[dict]:
    from trx_spark import tables
    from trx_spark.sources import textio
    from trx_spark.queries import (
        bpe,
        bucketing,
        evolution,
        classifier,
        corpus,
        curation,
        graphq,
        langid,
        lm,
        preference,
        similarity,
        sketches,
        streamingq,
        textdata,
        trxdomain,
        trxdomain3,
        unigram,
        wordpiece,
    )

    return [
        streamingq._MG_LANDING_CACHE,
        wordpiece._WP_CACHE,
        wordpiece._WPT_CACHE,
        unigram._UG_CACHE,
        tables._FAN_MEMO,
        classifier._FEATS_CACHE,
        trxdomain._DIFFS_CACHE,
        trxdomain3._DIFFS_CACHE,
        curation._TOKS_CACHE,
        curation._SHINGLED_CACHE,
        curation._BIGRAM_CACHE,
        curation._TOKEN_CACHE,
        curation._BLOOM_WORDS_CACHE,
        corpus._SIGNALS_CACHE,
        corpus._CLUSTERS_CACHE,
        corpus._KEEP_LIST_CACHE,
        similarity._CENTS_CACHE,
        similarity._PQ_CACHE,
        similarity._OPQ_CACHE,
        similarity._ASSIGN_CACHE,
        textdata._LSH_BUCKET_TABLE_CACHE,
        textdata._LSH_PAIRS_CACHE,
        textdata._JACCARD_PAIRS_CACHE,
        textdata._PAIR_STATS_CACHE,
        textdata._ALLPAIRS_CACHE,
        textdata._SHINGLE_TABLE_CACHE,
        textdata._SHMH_SIGS_CACHE,
        textdata._Q0_CACHE,
        similarity._KNN_CACHE,
        similarity._CELLS_ASSIGN_CACHE,
        similarity._SEMDEDUP_CACHE,
        bpe._BPE_CACHE,
        lm._LM_CACHE,
        classifier._CLF_CACHE,
        textio._STAGE_CACHE,
        bucketing._BUCKETED_CACHE,
        evolution._EVO_CACHE,
        evolution._SNAP_CACHE,
        graphq._GRAPH_CACHE,
        preference._PK_CACHE,
        similarity._RANKED_EVAL_CACHE,
        sketches._BIGRAM_SRC_CACHE,
        langid._NB_CACHE,
    ]


def clear_stage_caches(spark=None) -> int:
    """Drop every memoized shared stage; returns the number of entries
    cleared. Safe at any time — the next consumer simply rebuilds.

    The memos hold ``localCheckpoint``-ed DataFrames whose executor
    blocks are NOT freed by clearing the dicts — they linger until
    Python GC and the py4j finalizer queue get around to them, which
    under a long benchmark session shows up as storage-memory pressure
    and GC pauses. Pass the ``spark`` session to also unpersist every
    persistent RDD immediately (safe here: after the dicts are cleared
    nothing references the checkpoint blocks; per-query transient
    checkpoints are rebuilt by the next query anyway)."""
    n = 0
    for cache in _all_caches():
        n += len(cache)
        cache.clear()
    if spark is not None:
        # py4j exposes the JavaSparkContext's map as a dict-like view
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
    return n


def stage_cache_stats() -> dict[str, int]:
    """Entry counts per cache (for diagnostics/monitoring)."""
    from trx_spark.queries import (
        bpe,
        bucketing,
        classifier,
        corpus,
        curation,
        evolution,
        lm,
        unigram,
        wordpiece,
        similarity,
        textdata,
        trxdomain,
        trxdomain3,
    )

    return {
        "events_diff_bank": len(trxdomain._DIFFS_CACHE),
        "curve_bank": len(trxdomain3._DIFFS_CACHE),
        "tokenized_base": len(curation._TOKS_CACHE),
        "shingle_stream": len(curation._SHINGLED_CACHE),
        "bigram_stream": len(curation._BIGRAM_CACHE),
        "token_stream": len(curation._TOKEN_CACHE),
        "bloom_filter_words": len(curation._BLOOM_WORDS_CACHE),
        "quality_signals": len(corpus._SIGNALS_CACHE),
        "dedup_cluster_labels": len(corpus._CLUSTERS_CACHE),
        "corpus_keep_list": len(corpus._KEEP_LIST_CACHE),
        "coarse_codebook": len(similarity._CENTS_CACHE),
        "trained_assign": len(similarity._ASSIGN_CACHE),
        "pq_codebooks": len(similarity._PQ_CACHE),
        "opq_rotation": len(similarity._OPQ_CACHE),
        "lsh_buckets": len(textdata._LSH_BUCKET_TABLE_CACHE),
        "lsh_pairs": len(textdata._LSH_PAIRS_CACHE),
        "jaccard_pairs": len(textdata._JACCARD_PAIRS_CACHE),
        "pair_token_stats": len(textdata._PAIR_STATS_CACHE),
        "knn_edges": len(similarity._KNN_CACHE),
        "ivf_cells": len(similarity._CELLS_ASSIGN_CACHE),
        "bpe_trained": len(bpe._BPE_CACHE),
        "wordpiece_trained": len(wordpiece._WPT_CACHE),
        "unigram_trained": len(unigram._UG_CACHE),
        "lm_model": len(lm._LM_CACHE),
        "quality_classifier": len(classifier._CLF_CACHE),
        "classifier_features": len(classifier._FEATS_CACHE),
        "bucketed_tables": len(bucketing._BUCKETED_CACHE),
        "schema_evo_generations": len(evolution._EVO_CACHE),
        "snapshot_store": len(evolution._SNAP_CACHE),
    }
