"""The epoch store: the one on-disk format behind every incremental sink,
and the one runner that drains a landing folder into it.

The reference's online loop (trx/id9.py:305-335, SURVEY ST1/ST2) appends
each new wave's results to a saved store and re-reduces; FIXTURES.md B8
states the contract — results after wave N equal a batch run over waves
1..N. Structured Streaming gives that loop at-least-once delivery: a
micro-batch whose checkpoint commit was lost in a crash is replayed
with the same epoch id. Every incremental sink in the engine (the curve
store, the sketch partials, the materialized views, the curation and
LSH-index stores, ``compat.FolderPoller``'s curve bank) therefore keeps
its state in this one layout:

``<store>/_epoch=N[/<bucket>=k]/part-*.parquet``
    one partition directory per epoch, written with DYNAMIC partition
    overwrite (:func:`write`), so a replay of epoch N rewrites
    ``_epoch=N`` in place instead of appending a second copy. A bucket
    sub-partition (``_hb``/``_kb``) lets a batch read only the hash
    buckets it touches.
``<store>/_epoch=-1/...`` and ``<store>/_compacted_through``
    the folded generation (:func:`compact`) and the watermark: the
    highest epoch it absorbed. A replayed epoch at or below the
    watermark is :func:`absorbed` and must be skipped — its rows sit in
    ``_epoch=-1``, where a per-epoch overwrite cannot reach them, so
    writing it again would land them twice.

The store is addressed through the local filesystem (markers, renames,
directory listing), as every caller's store is a local directory.
"""

from __future__ import annotations

import itertools
import os
import shutil
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

EPOCH = "_epoch"
_MARKER = "_compacted_through"
_MEM_NAMES = itertools.count()


def compacted_through(store_dir: str) -> int:
    """Highest epoch folded into the store's ``_epoch=-1`` generation
    (-1 when the store was never compacted, or does not exist)."""
    try:
        with open(os.path.join(store_dir, _MARKER)) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def absorbed(store_dir: str, epoch: int) -> bool:
    """True when ``epoch`` is already inside the folded generation, so
    a replay of it must write nothing."""
    return int(epoch) <= compacted_through(store_dir)


def epochs(store_dir: str) -> list[int]:
    """Sorted ids of the epoch directories in the store (``-1`` = the
    folded generation). A crashed dynamic-overwrite write leaves only
    its staging directory, never a partial ``_epoch=N``."""
    try:
        names = os.listdir(store_dir)
    except OSError:
        return []
    return sorted(int(n.split("=", 1)[1]) for n in names if n.startswith(EPOCH + "="))


def next_epoch(store_dir: str) -> int:
    """The first epoch id no write or fold has used yet."""
    return max([compacted_through(store_dir), *epochs(store_dir)]) + 1


def write(df: DataFrame, store_dir: str, epoch: int, *, bucket: str | None = None) -> None:
    """Write ``df`` as epoch ``epoch`` of the store, replacing whatever a
    failed earlier attempt of the same epoch left there. ``bucket``
    names a column of ``df`` to sub-partition each epoch by."""
    (
        df.withColumn(EPOCH, F.lit(int(epoch)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(EPOCH, *([bucket] if bucket else []))
        .parquet(store_dir)
    )


def read(spark: SparkSession, store_dir: str, *, merge_schema: bool = False) -> DataFrame | None:
    """The whole store (with its ``_epoch`` column), or ``None`` when
    nothing was written yet: the directory is missing, or holds no
    parquet because every batch so far was empty. Any other failure
    raises."""
    reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
    try:
        return reader.parquet(store_dir)
    except AnalysisException as exc:
        msg = str(exc)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


def _bucket_column(store_dir: str, ids: list[int]) -> str | None:
    for e in ids:
        epoch_dir = os.path.join(store_dir, f"{EPOCH}={e}")
        for n in os.listdir(epoch_dir):
            if "=" in n and os.path.isdir(os.path.join(epoch_dir, n)):
                return n.split("=", 1)[0]
    return None


def compact(
    spark: SparkSession,
    store_dir: str,
    merge: Callable[[SparkSession, str], DataFrame] | None = None,
    *,
    sort: tuple[str, ...] = (),
    n_files: int | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Fold every epoch of the store into ``_epoch=-1`` and advance the
    watermark to the highest epoch folded, so the store stays small
    over an unbounded stream.

    ``merge(spark, store_dir)`` gives the folded rows (a mergeable
    sketch's merge); by default every row is kept. A bucket
    sub-partition (``_hb``, ``_kb``) is kept: the folded rows are
    spread by it and, with ``sort``, sorted within each bucket. Without
    a bucket the fold is written as ``n_files`` files (default one).

    Crash safety: the fold is written to a temporary copy with the
    watermark INSIDE it, the old store is renamed aside, the copy
    renamed into place and only then the old store deleted — a crash
    leaves either the old or the new store, each with its own
    watermark. The watermark never goes down: folding a store that
    holds only ``_epoch=-1`` keeps the old value."""
    ids = epochs(store_dir)
    if not ids:
        return  # nothing written yet
    high = max(ids[-1], compacted_through(store_dir))
    bucket = _bucket_column(store_dir, ids)
    folded = merge(spark, store_dir) if merge else read(spark, store_dir).drop(EPOCH)
    if bucket:
        folded = folded.repartition(*([n_files] if n_files else []), bucket)
        if sort:
            folded = folded.sortWithinPartitions(bucket, *sort)
    else:
        folded = folded.repartition(n_files or 1)
    writer = folded.withColumn(EPOCH, F.lit(-1)).write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    tmp = store_dir.rstrip("/") + "._compact_tmp"
    writer.partitionBy(EPOCH, *([bucket] if bucket else [])).parquet(tmp)
    with open(os.path.join(tmp, _MARKER), "w") as fh:
        fh.write(str(int(high)))
    swap(store_dir, tmp)


def swap(store_dir: str, tmp: str) -> None:
    """Install the rewritten copy ``tmp`` at ``store_dir``. The old store
    is renamed aside first, so a crash never leaves the path empty (a
    vanished store would silently restart its stream from nothing); a
    stale aside copy from an earlier crash is cleared first."""
    old = store_dir.rstrip("/") + "._compact_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(store_dir, old)
    os.rename(tmp, store_dir)
    shutil.rmtree(old)


def source(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType | str,
    *,
    path_glob_filter: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A parquet file-source stream over ``landing_dir``. The checkpoint
    records which files were processed (the reference's HDF5 'files'
    list). ``path_glob_filter`` selects files inside the directory;
    ``max_files_per_trigger=1`` makes every file its own micro-batch."""
    reader = spark.readStream.schema(schema)
    if path_glob_filter is not None:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir)


def start(
    stream: DataFrame,
    handler: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    *,
    poll_seconds: float | None = None,
    output_mode: str = "append",
):
    """Start ``handler`` as the stream's foreachBatch sink. Returns the
    StreamingQuery: availableNow (drain the backlog, then stop) when
    ``poll_seconds`` is None, else a processingTime trigger — the
    reference's 30 s re-scan (id9.py:330)."""
    writer = (
        stream.writeStream.foreachBatch(handler)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    if poll_seconds is None:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=f"{int(poll_seconds)} seconds").start()


@contextmanager
def replay_state_width(spark: SparkSession):
    """Run one availableNow replay with ``spark.sql.shuffle.partitions``
    at the replay state width, ``max(2, min(8, defaultParallelism))``;
    the session's batch value is restored afterwards.

    Stateful operators keep ONE state store per shuffle partition per
    operator (a stream-stream join keeps four), and every micro-batch,
    the no-data watermark flush included, pays a fixed load + commit +
    delta-file write per store. The width therefore multiplies a
    per-batch constant that has nothing to do with data volume: the
    attribution interval join at sf0.1 (≈ 40 k state rows) replays in
    15.7 s at width 32 and in 3.1 s at width 4, with the same 2 171 rows.
    A checkpoint pins the width of its first run, and these replays start
    from fresh checkpoints, so it is chosen per replay: up to 8 covers the
    replays' tens of MB of state, and the foreachBatch handlers' partial
    writes inherit the same narrow width. At production state volumes a
    stream wants about one store per 64 MB of peak state, set at its first
    checkpoint."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(max(2, min(8, spark.sparkContext.defaultParallelism))))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def drain(
    spark: SparkSession,
    *,
    landing_dir: str,
    schema: StructType | str,
    handler: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    plan: Callable[..., DataFrame] | None = None,
    streams: int = 1,
    output_mode: str = "append",
    path_glob_filter: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame | None:
    """One availableNow pass over everything in ``landing_dir``, then
    return.

    ``plan`` maps the ``streams`` file-source streams of the folder to
    the query (default: the one stream as is). With ``handler`` the
    query feeds that foreachBatch sink under ``checkpoint_dir`` and the
    pass returns None; without, the query's rows go to a memory sink
    and come back as a DataFrame, checkpointed off the sink first
    (memory-sink tables pin their rows on the driver for the session's
    lifetime, so the sink's table is dropped).

    The pass runs under :func:`replay_state_width`: state stores and
    the handlers' writes are sized to the replay, not to the batch
    shuffle width."""
    srcs = [
        source(
            spark,
            landing_dir,
            schema,
            path_glob_filter=path_glob_filter,
            max_files_per_trigger=max_files_per_trigger,
        )
        for _ in range(streams)
    ]
    query = plan(*srcs) if plan is not None else srcs[0]
    name = None
    with replay_state_width(spark):
        if handler is not None:
            q = start(query, handler, checkpoint_dir, output_mode=output_mode)
        else:
            name = f"trx_drain_{next(_MEM_NAMES)}"
            q = (
                query.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
    if name is None:
        return None
    out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    return out
