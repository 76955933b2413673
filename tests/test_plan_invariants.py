"""Static-plan invariants over the WHOLE bench headline set (the
PLANS.md contract, enforced): no Cartesian product anywhere, and
BroadcastNestedLoopJoin only in the documented 1-row-build-side cases
(the ANN rankers' scalar query-norm join and the global-threshold
cross joins). A regression that degrades a keyed equi-join into a
nested loop fails here before it ever reaches a benchmark.
"""

from __future__ import annotations

import pytest

import bench
from trx_spark.queries import QUERIES

# queries where a BroadcastNestedLoopJoin is by-design: the build side
# is ONE row (scalar threshold / query vector / group total)
_ONE_ROW_BUILD_OK = {
    "ann_cosine_topk",
    "ann_topk_lsh",
    "ann_topk_multiprobe",
    "ann_ivf_topk",
    "ann_ivf_trained_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_recall_audit",  # composes the three rankers above (1-row query-norm joins)
    "pq_codes",
    "embedding_neardup_pairs",
    "kmeans_cells",
    "cluster_balanced_sample",  # rides the trained-codebook scoring (1-row scalar joins)
    "bm25_topk",  # corpus scalars (N, avgdl) are a 1-row broadcast
    "hybrid_rank_rrf",  # composes bm25_topk + ann_cosine_topk (1-row scalars)
    "knn_pagerank",  # the node-count scalar is a 1-row broadcast per round
    "curriculum_phases",  # the two percentile cuts are a 1-row broadcast
    "surprisal_curriculum",  # the three quartile cuts are a 1-row broadcast
    "contrastive_triples",  # rides the trained-codebook scoring (1-row scalar joins)
    "bpe_merges",  # per-round best-pair is a 1-row broadcast into the rewrite
    "quality_classifier_scores",  # the bias and n_docs scalars are 1-row broadcasts
    "bpe_encode",  # same trained state, plus the K-row vocab broadcast
    "wordpiece_merges",  # likelihood trainer: same 1-row rewrite loop
    "wordpiece_trained_encode",  # trained state + K-row vocab broadcast
    "semantic_dedup",
    "vocab_coverage",
    "mixture_sample",
    "chi2_filter_auto",
    "mad_outliers",
    "filter_outlier_curves",
    "global_curve_stats",
    "curves_chi2_per_shot",
    "curves_scan_stats",
    "scanpoint_stats",
    "asof_interp_refs",
    "diffs_plus_ref",
    "tfidf_top_terms",   # the source-count scalar is a 1-row broadcast
    "cluster_topics",    # the cell-count scalar is a 1-row broadcast
    "user_rfm_segments", # the quartile-cut triple is a 1-row broadcast
    "copurchase_lift",   # the order-total scalar is a 1-row broadcast
    "zorder_layout_keys",    # the min/max quantization frame is a 1-row broadcast
    "zorder_skipping_stats", # same 1-row quantization frame
    "hilbert_layout_keys",   # same 1-row quantization frame
    "hilbert_scan_savings",  # quantization frame + 1-row row-count total
    "layout_scan_savings",   # same 1-row quantization frame
    "ann_opq_topk",          # the 1-row PCA rotation vector broadcast
    "opq_recall_audit",      # composes the two PQ rankers above
    "ccnet_quality_buckets", # the 33/67 percentile cuts are a 1-row broadcast
    "table_expectations_audit",  # the n_checked scalar is a 1-row broadcast
    "ops_health_report",         # composes the expectations audit above
    "sales_opportunity_by_nation",  # the Q22 avg-balance scalar is a 1-row broadcast
    "pmi_collocations",  # the total-bigram-count scalar is a 1-row broadcast
    "unimax_language_sampling",  # the water-filling threshold is a 1-row broadcast
    "unigram_em_round_stats",  # per-round piece-prob map + total are 1-row broadcasts
    "unigram_trained_encode",  # the trained piece-prob map is a 1-row broadcast
    "benford_first_digit_audit",  # the digit-count total is a 1-row broadcast
    "hbos_outlier_scores",  # the event-count total is a 1-row broadcast
    "neyman_allocation",  # the (n_total, sum NhSh) pair is a 1-row broadcast
    "table_profile",  # the string-min/max pair is a 1-row aggregate
    # recombined with the hash-aggregated distinct-count pass (1x1 join)
}

# documented TINY-DIMENSION nested loops: the build side is a bounded
# dimension table (not 1 row) broadcast into an inequality join whose
# fan-out per probe row is constant — linear, never corpus-quadratic
_TINY_DIM_BUILD_OK = {
    "rolling_active_users",  # ≤|days|-row day dim; each row meets ≤7 days
    "source_token_drift",    # ≤(V+1)-row bucket dim + 1-row total broadcast
    "event_type_correlation",  # ≤|types|-row type dim × day dim grid build
    "event_trend_robust",      # same bounded day×type grid build
    "bootstrap_replica_means", # the doc-count scalar is a 1-row broadcast
    "retrieval_mrr_audit",  # bounded eval-query sample (n/97 rows)
    # broadcast into the brute-force ranking fan-out; the 100 TB path
    # ranks IVF/LSH shortlists instead (see the module docstring)
    "kmv_source_overlap",  # ≤|sources|-row distinct-source dim paired
    # with itself (src_a < src_b) — all downstream work is O(sources·K)
    "lang_id_trained",  # ≤|langs|-row class dim (per-class denominator/
    # prior scalars) broadcast across the per-doc grid; 1-row vocab and
    # doc-count scalars inside its build
    "t_closeness_audit",  # ≤|bands|-row global-distribution dim crossed
    # with the ≤|QI|-row group dim, plus the 1-row (n_total, m_bands)
    # scalar — all aggregate outputs, the grid is |QI|·|bands| rows
}
_ONE_ROW_BUILD_OK |= _TINY_DIM_BUILD_OK

# deliberate tiny cross products: the HKL Miller-index enumeration is
# spark.range(-lim,lim+1)³ — a (2·lim+1)³-row GENERATOR (the reference's
# itertools.product, trx/cell.py:43-61), not a join of data tables; the
# multimodal gate fixtures are the same shape (bounded range products
# generating a deterministic pixel/envelope table, never data⨯data)
_CARTESIAN_OK = {
    "reflections_cubic_si",
    "reflections_triclinic",
    "image_dedup_groups",
    "audio_dedup_groups",
    "table_profile",  # 1-row x 1-row: the keyless string-min/max
    # aggregate recombined with the keyless distinct-count aggregate
}

_SKIP = {"streaming_incremental_stats"}  # executes a stream, not a plan


@pytest.mark.parametrize("name", sorted(set(bench.HEADLINE) - _SKIP))
def test_no_cartesian_no_stray_nested_loop(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name in _CARTESIAN_OK:
        return  # generator enumeration: cross product is the point
    assert "CartesianProduct" not in plan, f"{name} plans a Cartesian product"
    if name not in _ONE_ROW_BUILD_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join outside the documented "
            "1-row-build-side set"
        )


def _walk(jnode):
    yield jnode
    ch = jnode.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))
    # AQE query stages (Shuffle/BroadcastQueryStage) and the adaptive
    # root hide their input behind plan()/executedPlan(), not children()
    for accessor in ("plan", "executedPlan"):
        try:
            yield from _walk(getattr(jnode, accessor)())
        except Exception:
            pass


def _top_bench_names(n=30):
    """Audit set = the UNION of the top-n most expensive queries in the
    working-tree BENCH_DETAIL.json AND the committed (HEAD) version.
    The driver re-records the working-tree artifact every round, and
    memo-first-payer variance reshuffles which query lands in a timing
    top-30 — auditing only one copy lets a re-recorded bench flip the
    suite red without any code change (the round-11 hybrid_rank_rrf
    incident). The union is monotone under churn: a query audited at
    commit time stays audited after the driver overwrites the file."""
    import json
    import pathlib
    import subprocess

    root = pathlib.Path(__file__).resolve().parents[1]
    versions = []
    detail = root / "BENCH_DETAIL.json"
    if detail.exists():
        versions.append(detail.read_text())
    try:
        committed = subprocess.run(
            ["git", "show", "HEAD:BENCH_DETAIL.json"],
            capture_output=True,
            text=True,
            cwd=root,
            timeout=30,
        )
        if committed.returncode == 0 and committed.stdout.strip():
            versions.append(committed.stdout)
    except Exception:
        pass  # not a git checkout: working-tree copy alone
    names: set[str] = set()
    for text in versions:
        try:
            timings = json.loads(text).get("queries", {})
        except ValueError:
            continue
        names.update(
            name
            for name, _ in sorted(timings.items(), key=lambda kv: -kv[1])[:n]
            if name in QUERIES and name not in _SKIP
        )
    return sorted(names)


# subtree markers proving a broadcast build side is BOUNDED (an
# aggregate, a limit/top-k, a literal/range generator, a checkpointed
# memo, or a reuse of one) rather than data-proportional
_BOUNDED_BUILD_MARKERS = (
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "TakeOrderedAndProject",
    "Limit",
    "LocalTableScan",
    "Range",
    "ExistingRDD",     # localCheckpoint'ed bounded memo
    "ReusedExchange",
    "Subquery",
)


# TPC-H fixes nation at 25 rows and region at 5 AT EVERY SF — a scan of
# these is a constant-size build at 100 TB, unlike every other table.
# A broadcast subtree is const-dim-bounded only if EVERY file it scans
# is one of these (default-deny: a scan of any other table — including
# tables added later — disqualifies the exemption).
_CONST_DIM_SCANS = ("nation.parquet", "region.parquet")

# SinglePartition-fed windows whose INPUT is bounded by construction
# (these sites are also in _GLOBAL_WINDOW_ALLOWLIST with the bound):
_BOUNDED_WINDOW_FEED_OK = {
    # equal-row file-cut map: cumsum over the curve-key histogram,
    # ≤ 4^_ZBITS (65,536) rows regardless of data size
    "hilbert_scan_savings",
    # RRF fusion: both global row_number windows (ranking.py) sit on
    # bounded inputs — bm25_rank over TakeOrderedAndProject(limit=20),
    # fused_rank over the ≤30-row full-outer union of the two top-k
    # tables — so the SinglePartition feed is ≤30 rows by construction
    "hybrid_rank_rrf",
}


@pytest.mark.parametrize("name", _top_bench_names() or ["pricing_summary"])
def test_expensive_plans_audit(spark, sf_dir, name):
    """The per-round manual plan audit of the bench's most expensive
    queries, as a test (round-8): their executed plans must contain
    (a) no Cartesian product, (b) no single-partition exchange feeding
    a Window (the unpartitioned-window funnel), and (c) no
    BroadcastExchange whose build subtree lacks every bounded-build
    marker — i.e. nothing data-proportional is ever broadcast.

    The plan is built with auto-broadcast DISABLED: at 100 TB the size
    threshold never triggers, so the only broadcasts that survive a
    scale-up are the EXPLICIT hints — exactly the ones (c) audits. A
    threshold-chosen broadcast of a table that happens to be small at
    the test SF is a planner artifact, not a declared plan choice."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        qe = QUERIES[name](spark, sf_dir)._jdf.queryExecution()
        plan_text = qe.executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    if name not in _CARTESIAN_OK:
        assert "CartesianProduct" not in plan_text, name
    for node in _walk(qe.executedPlan()):
        nn = node.nodeName()
        if nn == "Window":
            # the first Exchange line in the window's subtree text is
            # the exchange feeding it (subtrees print top-down and
            # render through AQE query stages); SinglePartition there
            # is the unpartitioned-window funnel
            sub = node.toString()
            feed = next(
                (ln for ln in sub.splitlines() if "Exchange" in ln), ""
            )
            if name not in _BOUNDED_WINDOW_FEED_OK:
                assert "SinglePartition" not in feed, (
                    f"{name}: Window over SinglePartition\n{sub[:1500]}"
                )
        if nn.startswith("BroadcastExchange"):
            sub = node.toString()
            # default-deny: every parquet file the build subtree scans
            # must be a constant-size dimension table
            import re as _re

            scanned = set(_re.findall(r"[\w.-]*?(\w+\.parquet)", sub))
            const_dim_build = bool(scanned) and scanned <= set(
                _CONST_DIM_SCANS
            )
            assert const_dim_build or any(
                m in sub for m in _BOUNDED_BUILD_MARKERS
            ), f"{name}: data-proportional broadcast\n{sub[:1500]}"


def test_global_stats_are_aggregates_not_windows(spark, sf_dir):
    """Round-3 de-globalization, pinned: the global median/MAD of
    filter_outlier_curves and SemDeDup's cell-size cap must plan with
    NO window at all (two-pass aggregates + broadcast back; a
    regression to percentile().over(partitionBy(lit(1))) or a count
    window fails here)."""
    from trx_spark.queries.similarity import semantic_dedup
    from trx_spark.queries.trxdomain import filter_outlier_curves

    for name, fn in [
        ("filter_outlier_curves", filter_outlier_curves),
        ("semantic_dedup", semantic_dedup),
    ]:
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, f"{name} plans a window:\n{plan[:2000]}"


def test_no_global_lit1_window_in_source():
    """Invariant 7's source-level twin (round 4): no
    ``partitionBy(F.lit(1))`` / ``partitionBy(lit(1))`` window exists
    anywhere in trx_spark — global statistics must be scalar aggregates
    broadcast back, never a single-task window."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "trx_spark"
    offenders = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        if "partitionBy(F.lit(1))" in src or "partitionBy(lit(1))" in src:
            offenders.append(str(p))
    assert offenders == []


# Every unpartitioned window spec in the tree (``Window.orderBy``, and
# the key-less ``Window.partitionBy()`` / ``Window.rowsBetween`` /
# ``Window.rangeBetween`` starts), with the bound that justifies it
# (file → exact occurrence count). The INPUT of each site is bounded by
# construction — dictionary/top-k/bucket tables or per-run file lists —
# never corpus-proportional data; the one deliberate data-global window
# is slice_skip_first_last, kept for P6/O3 coverage and documented in
# relational.py. A new global window (or a removed one) fails the count
# and must be justified here.
_GLOBAL_WINDOW_ALLOWLIST = {
    # group-less API fallback of the as-of reference frames (the forward
    # and the reversed acquisition order; the ladder edges are full
    # frames of the same two specs): every corpus-scale caller passes a
    # run/scan group; group-less serves single-run (bounded per-file
    # log) reductions
    "operators/reduction.py": 2,
    # ring-histogram smoothing: ≤|bins| rows (fixed radial binning)
    "operators/fits.py": 1,
    # log-file line slicing: per-run log/file lists (1e3-1e6 names),
    # never the pixel data
    "sources/logfile.py": 1,
    # files⋈log acquisition index, group-less fallback (same contract
    # as reduction.py)
    "pipeline.py": 1,
    # UNIMAX water-filling: ≤|langs| rows
    "queries/mlops.py": 3,
    # slice_skip_first_last: THE documented data-global window (P6/O3),
    # its row_number order plus the key-less row-count frame
    "queries/relational.py": 2,
    # moving-median trend: ≤|day buckets| rows
    "queries/temporal.py": 1,
    # RRF fusion: two bounded top-k tables (≤k rows each)
    "queries/ranking.py": 2,
    # KS/ECDF statistics: ≤|distinct values of the compared columns|
    "queries/driftstats.py": 2,
    # equal-row file-cut map: cumulative sum over the curve-key
    # HISTOGRAM — ≤ 4^_ZBITS (65,536) rows by construction, the grid
    # size, never the data size
    "queries/layout.py": 1,
}


def test_global_windows_are_allowlisted():
    """Closes the r8 audit seam: every unpartitioned window spec in the
    tree must be on the bounded-input allowlist above, at its exact
    count — adding a global window anywhere else (or changing an
    allowlisted file's count) fails until the bound is re-justified. A
    key-less ``Window.partitionBy()`` (or a bare frame) is as global as
    ``Window.orderBy`` and is counted the same way."""
    import pathlib
    import re

    keyless = re.compile(
        r"Window\.(?:orderBy\(|partitionBy\(\s*\)|rowsBetween\(|rangeBetween\()"
    )
    root = pathlib.Path(__file__).resolve().parents[1] / "trx_spark"
    found: dict[str, int] = {}
    for p in root.rglob("*.py"):
        cnt = len(keyless.findall(p.read_text()))
        if cnt:
            found[str(p.relative_to(root))] = cnt
    assert found == _GLOBAL_WINDOW_ALLOWLIST


def test_spec_reader_windows_are_per_file(spark, tmp_path):
    """read_spec_scan's #S running count and _idx windows must
    partition by file_path (round-7): an unpartitioned window funnels
    every line of a SPEC glob through one task. SinglePartition
    exchange feeding a Window = regression."""
    from trx_spark.sources.specfile import read_spec_scan

    p = tmp_path / "a.spec"
    p.write_text(
        "#O0 m\n#S 1 ascan x 0 1 1 0.1\n#P0 1.0\n#L x  y\n0.0 1.0\n"
    )
    plan = (
        read_spec_scan(spark, str(p), scan=1, index=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_compute_bound_bases_fan_out(spark):
    """Invariant 10 (round 4): map-only compute-heavy stages must not
    inherit a single-split scan. The shared bases (tokenized docs,
    quality signals, signature/fingerprint projections, every
    per-vector embedding stage) fan a small scan out to the session's
    default parallelism before the heavy projection — a no-op at
    cluster scale, the difference between serial and parallel locally."""
    from trx_spark.cache import clear_stage_caches
    from trx_spark.queries.corpus import quality_filter
    from trx_spark.queries.curation import _toks_base
    from trx_spark.tables import fan_out_small_scan, load_table

    sf = "/root/testdata/sf0.001"
    target = min(spark.sparkContext.defaultParallelism, 8)
    clear_stage_caches(spark)
    assert _toks_base(spark, sf).rdd.getNumPartitions() >= target
    assert quality_filter(spark, sf).rdd.getNumPartitions() >= target
    # the helper is a no-op once the scan already has enough splits
    many = load_table(spark, sf, "documents").repartition(64)
    assert fan_out_small_scan(many) is many
    clear_stage_caches(spark)


def test_approx_percentile_production_switch_is_bounded(spark, sf_dir):
    """PLANS.md names approx_percentile (t-digest, partial-
    aggregatable) as the production switch for every exact-percentile
    gate query — this measures the claim instead of asserting it: at
    each gated quantile, the approx answer's RANK error over the real
    data is within the documented accuracy bound, so switching the
    spelling at 100 TB changes a buffered per-group sort into a
    mergeable sketch without moving the answers materially."""
    from pyspark.sql import functions as F

    from trx_spark.tables import fan_out_small_scan, load_table

    acc = 10_000  # default accuracy parameter: rank error <= n / acc
    docs = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    vals = sorted(
        r["n_chars"] for r in docs.select("n_chars").collect()
    )
    n = len(vals)
    row = docs.agg(
        *[
            F.expr(f"approx_percentile(n_chars, {q!r}, {acc})").alias(f"a{i}")
            for i, q in enumerate((0.25, 0.5, 0.75, 0.95))
        ]
    ).collect()[0]
    import bisect

    for i, q in enumerate((0.25, 0.5, 0.75, 0.95)):
        got = row[f"a{i}"]
        # rank window the accuracy contract allows
        lo = max(0, int(q * n) - max(1, n // acc) - 1)
        hi = min(n - 1, int(q * n) + max(1, n // acc) + 1)
        pos = bisect.bisect_left(vals, got)
        assert lo <= pos <= hi + 1, (q, got, pos, lo, hi)
