"""The shared-stage memoization contract (PLANS.md round-3 section):
within one session a stage builds once and every consumer rides the
same checkpoint; a different session misses the cache and still
computes correct results (keys are (session, sf_dir), so stale
checkpoints never leak across sessions)."""

from __future__ import annotations


def test_same_session_hits_cache(spark, sf_dir):
    from trx_spark.queries.corpus import quality_filter
    from trx_spark.queries.curation import _bigram_stream, _token_stream

    assert _bigram_stream(spark, sf_dir) is _bigram_stream(spark, sf_dir)
    assert _token_stream(spark, sf_dir) is _token_stream(spark, sf_dir)
    assert quality_filter(spark, sf_dir) is quality_filter(spark, sf_dir)


def test_new_session_misses_cache_and_stays_correct(spark, sf_dir):
    from trx_spark.queries.curation import topk_ngrams

    base = {(r["ngram"], r["n_occurrences"]) for r in topk_ngrams(spark, sf_dir).collect()}
    other = spark.newSession()
    again = {(r["ngram"], r["n_occurrences"]) for r in topk_ngrams(other, sf_dir).collect()}
    assert base == again and len(base) > 0


def test_distinct_sf_dirs_get_distinct_stages(spark, sf_dir):
    from trx_spark.queries.curation import _token_stream

    a = _token_stream(spark, sf_dir)
    b = _token_stream(spark, "/root/testdata/sf0.01")
    assert a is not b
    assert a.count() != b.count() or sf_dir == "/root/testdata/sf0.01"


def test_clear_stage_caches(spark, sf_dir):
    from trx_spark.cache import clear_stage_caches, stage_cache_stats
    from trx_spark.queries.curation import _token_stream

    _token_stream(spark, sf_dir)
    assert stage_cache_stats()["token_stream"] >= 1
    assert clear_stage_caches() >= 1
    assert all(v == 0 for v in stage_cache_stats().values())
    # next consumer rebuilds transparently
    assert _token_stream(spark, sf_dir).count() > 0


def test_every_memo_dict_is_registered():
    """Every module-level ``*_CACHE`` dict in the query/operator
    modules must be covered by cache._all_caches() — an unregistered
    memo survives clear_stage_caches() holding an unpersisted
    localCheckpoint, which crashes the next consumer with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the bench cold pass found
    exactly this for the knn edge memo)."""
    import importlib
    import pkgutil

    from trx_spark import cache as cache_mod
    import trx_spark.queries as qpkg
    import trx_spark.operators as opkg

    registered = {id(c) for c in cache_mod._all_caches()}
    missing = []
    for pkg in (qpkg, opkg):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, val in vars(mod).items():
                if name.endswith("_CACHE") and isinstance(val, dict):
                    if id(val) not in registered:
                        missing.append(f"{mod.__name__}.{name}")
    assert not missing, f"memo dicts not in cache._all_caches(): {missing}"


def test_memo_build_log_is_bounded():
    """A long-lived session keeps only the last MEMO_BUILDS_KEPT build
    stamps, oldest dropped first; the bench still serializes a list."""
    import json

    from trx_spark import cache

    saved = list(cache.MEMO_BUILDS)
    n = cache.MEMO_BUILDS_KEPT
    try:
        t0 = cache.build_start()
        for k in range(n + 5):
            cache.build_done(f"memo_{k}", t0)
        assert len(cache.MEMO_BUILDS) == n
        assert cache.MEMO_BUILDS[0]["name"] == "memo_5"
        assert cache.MEMO_BUILDS[-1]["name"] == f"memo_{n + 4}"
        assert len(json.loads(json.dumps(list(cache.MEMO_BUILDS)))) == n
    finally:
        cache.MEMO_BUILDS.clear()
        cache.MEMO_BUILDS.extend(saved)
