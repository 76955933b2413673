"""Incremental (online-mode) processing via Structured Streaming.

The reference's online loop (SURVEY ST1/ST2; trx/id9.py:305-335
``doFolder`` and the skip-processed-files logic of azav.py:300-362)
re-scans a folder every 30 s, processes only new files, appends to the
saved result and re-runs the reduction. In Spark this is the
file-source streaming contract: the stream's checkpoint tracks
processed files (replacing the HDF5 'files' list), ``foreachBatch``
appends new curves to an epoch store (:mod:`trx_spark.streaming.store`,
which owns the layout, the replay rules and the compaction) and re-runs
the batch reduction query, and the trigger choice maps the 30 s poll
(processingTime) or one-shot catch-up (availableNow — the
batch-equivalence semantics FIXTURES.md B8 asks for: results after
wave N equal a batch run over waves 1..N).

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

from trx_spark.streaming import store


def make_batch_handler(
    store_dir: str,
    *,
    reduce_fn: Callable[[DataFrame], DataFrame] | None = None,
    reduced_dir: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch handler: append the batch to the epoch store
    ``store_dir`` (idempotent under replay, see
    :mod:`trx_spark.streaming.store`) and, with ``reduce_fn``, overwrite
    ``reduced_dir`` with the reduction of the whole store."""

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        if store.absorbed(store_dir, epoch_id):
            return
        store.write(batch, store_dir, epoch_id)
        if reduce_fn is not None and reduced_dir is not None:
            full = store.read(batch.sparkSession, store_dir).drop(store.EPOCH)
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
    stream = store.source(spark, landing_dir, schema, path_glob_filter=path_glob_filter)
    handle_batch = make_batch_handler(
        store_dir, reduce_fn=reduce_fn, reduced_dir=reduced_dir
    )
    return store.start(stream, handle_batch, checkpoint_dir, poll_seconds=poll_seconds)


def run_catchup(
    spark: SparkSession,
    **kwargs,
) -> None:
    """One availableNow pass: process everything currently in the
    landing dir, then return (the ST1 'new files only' batch re-run).
    Takes :func:`incremental_pipeline`'s keywords."""
    handler = make_batch_handler(
        kwargs.pop("store_dir"),
        reduce_fn=kwargs.pop("reduce_fn", None),
        reduced_dir=kwargs.pop("reduced_dir", None),
    )
    store.drain(spark, handler=handler, **kwargs)
