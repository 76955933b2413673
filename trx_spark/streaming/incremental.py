"""Incremental (online-mode) processing via Structured Streaming.

The reference's online loop (SURVEY ST1/ST2; trx/id9.py:305-335
``doFolder`` and the skip-processed-files logic of azav.py:300-362)
re-scans a folder every 30 s, processes only new files, appends to the
saved result and re-runs the reduction. In Spark this is exactly the
file-source streaming contract: ``readStream`` tracks processed files
in the checkpoint (replacing the HDF5 'files' list), ``foreachBatch``
appends new curves and re-runs the batch reduction query, and the
trigger choice maps the 30 s poll (processingTime) or one-shot catch-up
(availableNow — the batch-equivalence semantics FIXTURES.md B8 asks
for: results after wave N equal a batch run over waves 1..N).

State stays trivially small at any scale: the checkpoint holds file
names only; the aggregation is re-run as a batch query over the
accumulated store, as the reference recomputes it. That re-run is not
cheap: it reads the whole bank every wave. In a traced perfbench
``online_waves`` wave (64x64 EDF frames, one pinned CPU of a 4-vCPU
VM) the reduction took 3.46 s against 0.79 s for integration, so a
wave's cost grows with the bank, not with the wave.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def make_batch_handler(
    store_dir: str,
    *,
    reduce_fn: Callable[[DataFrame], DataFrame] | None = None,
    reduced_dir: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch handler, IDEMPOTENT under replay: foreachBatch
    is at-least-once, so a batch replayed after a crash must not
    duplicate rows in the store. Each epoch lands in its own partition
    directory with DYNAMIC partition overwrite — a replay of epoch N
    rewrites ``_epoch=N`` in place instead of appending a second copy,
    with no read-side dedupe. An epoch at or below the store's
    ``_compacted_through`` watermark is SKIPPED entirely: its rows were
    written (then folded into ``_epoch=-1`` by ``sinks.compact_store``)
    before the crash lost the checkpoint commit, so the per-epoch
    overwrite would land them a second time next to the fold."""

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from trx_spark.sources.sinks import compacted_through

        if int(epoch_id) <= compacted_through(store_dir):
            return
        (
            batch.withColumn("_epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(store_dir)
        )
        if reduce_fn is not None and reduced_dir is not None:
            full = batch.sparkSession.read.parquet(store_dir).drop("_epoch")
            reduce_fn(full).write.mode("overwrite").parquet(reduced_dir)

    return handle_batch


def incremental_pipeline(
    spark: SparkSession,
    *,
    landing_dir: str,
    schema: StructType | str,
    store_dir: str,
    checkpoint_dir: str,
    reduce_fn: Callable[[DataFrame], DataFrame] | None = None,
    reduced_dir: str | None = None,
    poll_seconds: float | None = None,
    path_glob_filter: str | None = None,
):
    """Watch ``landing_dir`` for new curve files; append them to the
    parquet ``store_dir``; if ``reduce_fn`` is given, re-run the
    reduction over the FULL accumulated store each micro-batch and
    overwrite ``reduced_dir`` (ST1+E2 composition).

    Returns the started StreamingQuery. ``poll_seconds=None`` uses
    availableNow (process the backlog, then stop — deterministic for
    tests); otherwise a processingTime trigger mirrors the reference's
    30 s cadence (id9.py:330).
    """
    reader = spark.readStream.schema(schema)
    if path_glob_filter is not None:
        # the file source wants a directory basePath; a glob filter
        # selects specific files inside it
        reader = reader.option("pathGlobFilter", path_glob_filter)
    stream = reader.parquet(landing_dir)

    handle_batch = make_batch_handler(
        store_dir, reduce_fn=reduce_fn, reduced_dir=reduced_dir
    )

    writer = stream.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if poll_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{int(poll_seconds)} seconds")
    return writer.start()


def run_catchup(
    spark: SparkSession,
    **kwargs,
) -> None:
    """One availableNow pass: process everything currently in the
    landing dir, then return (the ST1 'new files only' batch re-run)."""
    from trx_spark.streaming.tuning import replay_state_width

    # foreachBatch handlers inherit the replay width too: their tiny
    # per-batch shuffles/writes stop fanning into 32 near-empty files
    with replay_state_width(spark):
        q = incremental_pipeline(spark, poll_seconds=None, **kwargs)
        q.awaitTermination()
    release_state_stores(spark)


def release_state_stores(spark) -> None:
    """Unload every cached state-store provider.

    Safe between replays: the engine's availableNow catchups run
    SEQUENTIALLY, and a terminated replay's providers can never be
    reused (their temporary checkpoints are already deleted) — yet
    they stay loaded on the executor, each holding its state map and
    a maintenance task.  Across a long session that accumulation
    measurably slows later stateful replays (round-12 probe:
    stream-stream join reps 15 → 22 → 47 s without the release,
    17 → 11 → 12 → 9 s with it).  Spark restarts the maintenance pool
    lazily on the next state-store use, so this is pure hygiene."""
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # JVM-internal API: best-effort hygiene, never correctness
