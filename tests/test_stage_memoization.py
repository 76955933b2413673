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


def test_no_hand_rolled_memo_dicts():
    """Every memo goes through ``cache.memo``: no ``trx_spark`` module
    (the query/operator packages, ``tables``, ``sources`` and
    ``streaming`` alike) keeps a module-level ``*_CACHE`` / ``*_MEMO``
    dict of its own. A private dict survives clear_stage_caches()
    holding an unpersisted localCheckpoint, which crashes the next
    consumer with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the bench cold
    pass found exactly this for the knn edge memo)."""
    import importlib
    import pkgutil

    import trx_spark

    found = []
    for info in pkgutil.walk_packages(trx_spark.__path__, "trx_spark."):
        mod = importlib.import_module(info.name)
        for name, val in vars(mod).items():
            if name.endswith(("_CACHE", "_MEMO")) and isinstance(val, dict):
                found.append(f"{mod.__name__}.{name}")
    assert not found, f"hand-rolled memo dicts: {found}"


def test_cold_sweep_clears_every_memo(spark, sf_dir):
    """The cold sweep empties the one store: memos built by three
    different families (trx diff bank, graph spine, token stream) are
    all listed, all gone after clear_stage_caches(), and the next call
    rebuilds a new frame with identical rows."""
    from trx_spark.cache import clear_stage_caches, stage_cache_stats
    from trx_spark.queries.curation import _token_stream
    from trx_spark.queries.graphq import capped_basket_items
    from trx_spark.queries.trxdomain import _diffs, scanpoint_stats

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    builders = {
        "events_diff_bank": lambda: _diffs(spark, sf_dir),
        "capped_basket_items": lambda: capped_basket_items(spark, sf_dir),
        "token_stream": lambda: _token_stream(spark, sf_dir),
    }
    clear_stage_caches()
    scanpoint_stats(spark, sf_dir)
    before = {name: build() for name, build in builders.items()}
    assert set(builders) <= set(stage_cache_stats())
    want = {name: rows(df) for name, df in before.items()}
    assert clear_stage_caches() >= len(builders)
    assert stage_cache_stats() == {}
    for name, build in builders.items():
        again = build()
        assert again is not before[name], name
        assert rows(again) == want[name], name


def test_memo_build_log_is_bounded():
    """A long-lived session keeps only the last MEMO_BUILDS_KEPT build
    stamps, oldest dropped first; the bench still serializes a list."""
    import json
    import time

    from trx_spark import cache

    saved = list(cache.MEMO_BUILDS)
    n = cache.MEMO_BUILDS_KEPT
    try:
        t0 = time.perf_counter()
        for k in range(n + 5):
            cache.build_done(f"memo_{k}", t0)
        assert len(cache.MEMO_BUILDS) == n
        assert cache.MEMO_BUILDS[0]["name"] == "memo_5"
        assert cache.MEMO_BUILDS[-1]["name"] == f"memo_{n + 4}"
        assert len(json.loads(json.dumps(list(cache.MEMO_BUILDS)))) == n
    finally:
        cache.MEMO_BUILDS.clear()
        cache.MEMO_BUILDS.extend(saved)


def test_stopped_session_entries_are_evicted_on_a_miss():
    """The store holds sessions strongly; a miss drops every entry whose
    key holds a stopped session (``sparkContext._jsc is None``), so a
    process that starts session after session keeps only the live ones'
    entries. Stub sessions: the shared fixture session is never stopped."""
    from types import SimpleNamespace

    from trx_spark import cache

    class Session:  # hashable by identity, like SparkSession
        def __init__(self):
            self.sparkContext = SimpleNamespace(_jsc=object())

    session = Session

    saved = dict(cache._STORE)
    saved_log = list(cache.MEMO_BUILDS)
    cache._STORE.clear()
    try:
        old, live = session(), session()
        cache.memo("stage_a", (old, "sf"), lambda: 1)
        cache.memo("stage_b", (old, "sf", 7), lambda: 2)
        cache.memo("stage_a", (live, "sf"), lambda: 3)
        old.sparkContext._jsc = None  # what SparkContext.stop() leaves
        # a hit evicts nothing
        assert cache.memo("stage_a", (live, "sf"), lambda: 0) == 3
        assert cache.stage_cache_stats() == {"stage_a": 2, "stage_b": 1}
        # a miss drops both of the stopped session's entries
        assert cache.memo("stage_c", (live, "sf"), lambda: 4) == 4
        assert cache.stage_cache_stats() == {"stage_a": 1, "stage_c": 1}
        assert all(k[1][0] is live for k in cache._STORE)
    finally:
        cache._STORE.clear()
        cache._STORE.update(saved)
        cache.MEMO_BUILDS.clear()
        cache.MEMO_BUILDS.extend(saved_log)
