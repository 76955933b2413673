"""Sinks (SURVEY S10-S14): golden text writer, per-delay partitioned
output, parquet result store with config-hash invalidation (F7).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def save_txt(
    df: DataFrame,
    path: str,
    *,
    x: str = "q",
    columns: list[str],
    info: dict | None = None,
    fmt: str = "%+10.5e",
) -> None:
    """Golden text sink (SURVEY S10; trx/utils/misc.py:36-65 ``saveTxt``):
    '# key : value' metadata header, column-name row, fixed '%+10.5e'
    formatting. The driver-side assembly is one ordered collect of the
    (already reduced, tiny) result — never of raw data."""
    rows = df.orderBy(x).select(x, *columns).collect()
    lines = []
    for k, v in (info or {}).items():
        lines.append(f"# {k} : {v}")
    lines.append("# " + " ".join([x, *columns]))
    for r in rows:
        lines.append(" ".join(fmt % (r[c] if r[c] is not None else float("nan")) for c in [x, *columns]))
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def save_per_delay(
    df: DataFrame,
    out_dir: str,
    *,
    delay: str = "delay",
) -> None:
    """Per-delay partitioned sink (SURVEY S11/S12;
    trx/dataReduction.py:245-291): one directory per scan point via
    ``partitionBy`` — the distributed-native version of one-file-per-
    delay."""
    df.write.mode("overwrite").partitionBy(delay).parquet(out_dir)


def save_bucketed(
    df: DataFrame,
    table: str,
    *,
    path: str,
    bucket_by: list[str],
    n_buckets: int = 32,
    sort_by: list[str] | None = None,
) -> None:
    """Bucketed curve store (scale extension of S13): pre-shuffles the
    data ONCE at write time into ``n_buckets`` hash buckets of
    ``bucket_by``, so every later join or aggregation on the bucket key
    reads co-located data and plans WITHOUT an Exchange — the write
    amortizes the shuffle across all downstream reads. This is the
    bucketing story for the repeated curves⋈log / curves⋈scan joins of
    the reduction pipeline (the reference re-reads its HDF5 store
    per-run similarly; trx/azav.py:300-343).

    Spark bucketing metadata lives in the catalog → ``saveAsTable``
    with an explicit external ``path``; read back with
    :func:`load_bucketed` (``spark.table``), not ``read.parquet`` (a
    plain parquet read has no bucket metadata and re-shuffles).
    """
    writer = df.write.format("parquet").option("path", path).bucketBy(
        n_buckets, *bucket_by
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.mode("overwrite").saveAsTable(table)


def load_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read of a :func:`save_bucketed` table (keeps the bucket
    metadata the planner needs to elide the shuffle)."""
    return spark.table(table)


def compact_store(
    spark: SparkSession,
    store_dir: str,
    *,
    target_file_mb: int = 128,
    partition_by: str | None = None,
) -> int:
    """Compact a small-files parquet store (the incremental sink appends
    one file per micro-batch epoch — after thousands of polls the
    store's file count, not its byte size, is what kills scan planning
    at scale). Rewrites to ⌈bytes / target⌉ files via an atomic
    write-to-temp + swap; returns the new file count.

    Uses the actual on-disk byte size (not row estimates) so the result
    matches the parquet-side target regardless of schema.

    A Hive-partitioned store keeps its layout (partition column
    auto-detected from the top-level directory names when
    ``partition_by`` is not given; the rewrite repartitions BY that
    column so the file-count target applies per layout, not
    per-layout × per-task) — flattening it would leave an unreadable
    mixed flat/partitioned layout after the next append. The
    incremental sinks' epoch stores (``_epoch=N`` directories) fold
    through :func:`trx_spark.streaming.store.compact` instead: every
    epoch goes into ``_epoch=-1``, the bucket sub-partition is kept,
    and the replay watermark advances. A stale ``._compact_old`` left
    by a crashed earlier compaction is cleared before the swap."""
    from trx_spark.streaming import store

    if partition_by is None:
        part_dirs = {
            e.split("=", 1)[0]
            for e in os.listdir(store_dir)
            if "=" in e and os.path.isdir(os.path.join(store_dir, e))
        }
        if len(part_dirs) > 1:
            raise ValueError(f"multiple partition columns detected: {part_dirs}")
        if part_dirs:
            partition_by = part_dirs.pop()

    total_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(store_dir)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    if partition_by == store.EPOCH:
        store.compact(spark, store_dir, n_files=int(n_files))
        return int(n_files)
    df = spark.read.parquet(store_dir)
    if partition_by:
        # partitioned store: spread WITHIN the layout — round-robin
        # repartition(n) would write up to n files per partition value
        writer = df.repartition(int(n_files), partition_by).write.partitionBy(partition_by)
    else:
        writer = df.repartition(int(n_files)).write
    tmp = store_dir.rstrip("/") + "._compact_tmp"
    writer.mode("overwrite").parquet(tmp)
    store.swap(store_dir, tmp)
    return int(n_files)


def _config_hash(config: dict) -> str:
    return hashlib.sha256(json.dumps(config, sort_keys=True, default=str).encode()).hexdigest()


def save_with_config(df: DataFrame, out_dir: str, config: dict) -> str:
    """Result store with config hash (SURVEY F7/S13; replaces the
    reference's HDF5 cache + argument-comparison invalidation,
    trx/azav.py:292-343): results land in parquet, the config hash in a
    sidecar. ``is_result_current`` decides recompute."""
    h = _config_hash(config)
    df.write.mode("overwrite").parquet(out_dir)
    with open(os.path.join(out_dir, "_trx_config.json"), "w") as f:
        json.dump({"hash": h, "config": {k: str(v) for k, v in config.items()}}, f, indent=2)
    return h


def is_result_current(out_dir: str, config: dict) -> bool:
    """True when a stored result exists and was produced by an identical
    config (the recompute-on-mismatch driver logic of azav.py:300-343)."""
    meta = os.path.join(out_dir, "_trx_config.json")
    if not os.path.exists(meta):
        return False
    with open(meta) as f:
        stored = json.load(f)
    return stored.get("hash") == _config_hash(config)


def load_result(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir)


def export_shards(
    df: DataFrame,
    path: str,
    *,
    shard_key: list[str],
    target_file_mb: int = 512,
    n_shards: int | None = None,
    sample_rows: int = 10_000,
) -> dict:
    """Balanced, deterministic shard export — the training-data output
    sink. Writes ``path/_shard=N/`` parquet shards plus a
    ``_MANIFEST.json`` with per-shard row counts for validation.

    Shard assignment is ``xxhash64(shard_key) mod n`` — a pure function
    of the row, NOT round-robin ``repartition(n)`` (whose row→shard
    mapping depends on the incoming partitioning and is therefore not
    reproducible across retries or re-runs). A resumable 100 TB export
    needs the same row to land in the same shard every time.

    ``n_shards`` defaults to ⌈estimated bytes / target⌉ where the
    estimate is rows × bytes-per-row measured from a ``sample_rows``
    parquet write — two cheap extra jobs (a limit-write and a count),
    both metadata-light next to the export itself. The manifest row
    counts are read back from the WRITTEN parquet footers (a
    metadata-only scan), so they certify what landed on disk, not what
    was intended.
    """
    import shutil
    import tempfile

    if n_shards is None:
        total_rows = df.count()
        tmp = tempfile.mkdtemp(prefix="trx_export_probe_")
        try:
            probe = os.path.join(tmp, "probe")
            df.limit(sample_rows).write.mode("overwrite").parquet(probe)
            probe_df = df.sparkSession.read.parquet(probe)
            probe_rows = max(1, probe_df.count())
            probe_bytes = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(probe)
                for f in files
                if f.endswith(".parquet")
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        est_bytes = total_rows * (probe_bytes / probe_rows)
        n_shards = max(1, int(-(-est_bytes // (target_file_mb * 1024 * 1024))))

    shard = F.pmod(F.xxhash64(*[F.col(c) for c in shard_key]), F.lit(n_shards))
    out = df.withColumn("_shard", shard.cast("int"))
    (
        out.repartition(int(n_shards), "_shard")
        .write.mode("overwrite")
        .partitionBy("_shard")
        .parquet(path)
    )
    try:
        written = df.sparkSession.read.parquet(path)
        counts = {
            int(r["_shard"]): int(r["n"])
            for r in written.groupBy("_shard").agg(F.count(F.lit(1)).alias("n")).collect()
        }
    except Exception as exc:
        # a legitimately-empty export writes only _SUCCESS — the
        # read-back cannot infer a schema; certify an empty manifest
        # instead of aborting the pipeline
        msg = str(exc)
        if "UNABLE_TO_INFER_SCHEMA" not in msg and "Path does not exist" not in msg:
            raise
        counts = {}
    manifest = {
        "n_shards": int(n_shards),
        "shard_key": list(shard_key),
        "total_rows": int(sum(counts.values())),
        "rows_per_shard": {str(k): v for k, v in sorted(counts.items())},
    }
    with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


# ---------------------------------------------------------------------
# Versioned snapshot store (the Delta/Iceberg snapshot idea reduced to
# its engine-level core): every write is an IMMUTABLE snapshot
# directory plus an atomically-renamed manifest naming the current
# version — readers see a consistent snapshot even mid-write, any
# historical version stays readable (time travel), and rollback is a
# manifest write, not a data move. At 100 TB this is the difference
# between "overwrite and pray" and reproducible training-set lineage:
# a manifest pin in a training run's config names the EXACT bytes it
# saw (the training_set_manifest capstone composes directly).
# ---------------------------------------------------------------------

_VERSIONS_MANIFEST = "_trx_versions.json"


def _read_versions(path: str) -> dict:
    try:
        with open(os.path.join(path, _VERSIONS_MANIFEST)) as fh:
            return json.load(fh)
    except (FileNotFoundError, NotADirectoryError):
        return {"current": -1, "versions": {}}


def save_snapshot(df: DataFrame, path: str, *, note: str = "") -> int:
    """Write ``df`` as the next immutable snapshot of ``path`` and
    atomically promote it to current. Returns the new version id.

    Layout: ``path/v=<N>/`` parquet dirs (never rewritten) + the
    ``_trx_versions.json`` manifest (``current`` + per-version row
    counts and notes), written to a temp file and ``os.rename``d into
    place — readers either see the old manifest or the new one, never
    a torn state (on an object store, substitute a conditional PUT)."""
    os.makedirs(path, exist_ok=True)
    meta = _read_versions(path)
    # next id = highest EVER written + 1 (after a rollback, current can
    # be older than existing versions — ids are never reused)
    v = max((int(k) for k in meta["versions"]), default=-1) + 1
    vdir = os.path.join(path, f"v={v}")
    df.write.mode("errorifexists").parquet(vdir)
    n = df.sparkSession.read.parquet(vdir).count()
    meta["versions"][str(v)] = {"rows": int(n), "note": note}
    meta["current"] = v
    tmp = os.path.join(path, _VERSIONS_MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)
    os.rename(tmp, os.path.join(path, _VERSIONS_MANIFEST))
    return v


def load_snapshot(
    spark: SparkSession, path: str, *, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or any historical ``version`` (time
    travel). Raises on an unknown or never-written version."""
    meta = _read_versions(path)
    v = int(meta["current"]) if version is None else int(version)
    if v < 0 or str(v) not in meta["versions"]:
        raise ValueError(f"no snapshot version {version!r} at {path}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def rollback_snapshot(path: str, version: int) -> None:
    """Repoint ``current`` at an existing older version — a manifest
    write; no data moves, newer snapshots stay readable by id."""
    meta = _read_versions(path)
    if str(int(version)) not in meta["versions"]:
        raise ValueError(f"no snapshot version {version} at {path}")
    meta["current"] = int(version)
    tmp = os.path.join(path, _VERSIONS_MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)
    os.rename(tmp, os.path.join(path, _VERSIONS_MANIFEST))


def snapshot_history(path: str) -> dict:
    """The manifest as a dict: {'current': N, 'versions': {id: {rows,
    note}}} — the lineage a training-run config pins."""
    return _read_versions(path)
