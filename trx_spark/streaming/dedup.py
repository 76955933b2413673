"""Streaming deduplication with bounded state
(``dropDuplicatesWithinWatermark``) — the streaming face of the dedup
family (training-data brief): drop repeats of a key while its state is
live, expire state once the event-time watermark passes, so state is
O(keys within the watermark horizon), not O(history).

This is the operator a 100 TB ingest needs for at-least-once upstreams
(replayed files, retried producers): exact global dedup would keep
unbounded state; the watermark bound is the standard trade — repeats
separated by more than the horizon are re-emitted (downstream exact
dedup over the stored corpus catches those; ``queries/textdata.
dedup_exact`` is that batch pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from trx_spark.streaming import store


def dedup_stream(
    stream: DataFrame, keys: list[str], ts: str, watermark: str
) -> DataFrame:
    """First occurrence per key while the key's state is within the
    watermark horizon. Works on a streaming DataFrame; plan-builder
    only (trigger/sink are the caller's)."""
    return stream.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)


def run_dedup_catchup(
    spark: SparkSession,
    *,
    landing_dir: str,
    schema: StructType | str,
    keys: list[str],
    ts: str = "ts",
    watermark: str = "10 minutes",
    path_glob_filter: str | None = None,
    prepare=None,
) -> DataFrame:
    """availableNow pass of :func:`dedup_stream` over a parquet folder,
    collected through a memory sink (append mode — dedup emits each
    surviving row exactly once)."""

    def plan(stream: DataFrame) -> DataFrame:
        if prepare is not None:
            stream = prepare(stream)
        return dedup_stream(stream, keys, ts, watermark)

    return store.drain(
        spark,
        landing_dir=landing_dir,
        schema=schema,
        plan=plan,
        path_glob_filter=path_glob_filter,
    )
