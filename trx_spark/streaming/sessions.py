"""Native session-window aggregation (streaming extension beyond the
reference surface): Spark's ``session_window`` merges each event's
``[ts, ts+gap)`` range with overlapping ranges, giving gap-based
sessions WITHOUT the sort-based gaps-and-islands window — in streaming
mode the state store handles session merging incrementally and the
watermark expires closed sessions, so state is O(open sessions), the
shape a 100 TB event ingest needs (the batch lag/cumsum formulation,
``sessionize_events``, cannot run on an unbounded stream at all).

Boundary semantics (pinned by the oracle + tests): Spark merges
TOUCHING ranges, so two events exactly ``gap`` apart DO merge —
equivalent to "new session only when diff > gap" (same boundary as
the batch ``sessionize_events`` formulation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trx_spark.streaming import store


def session_counts(
    stream: DataFrame,
    *,
    ts: str = "ts",
    keys: list[str] | None = None,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-(key, session) event counts via native ``session_window``.
    Pure plan builder — works on a streaming or batch DataFrame
    (``withWatermark`` is a no-op in batch, which is the
    batch-equivalence the tests assert)."""
    keys = keys or []
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("s"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *keys,
            F.unix_micros(F.col("s.start")).alias("session_start_us"),
            F.unix_micros(F.col("s.end")).alias("session_end_us"),
            "n_events",
        )
    )


def run_session_catchup(
    spark: SparkSession,
    *,
    landing_dir: str,
    schema: StructType | str,
    ts: str = "ts",
    keys: list[str] | None = None,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    path_glob_filter: str | None = None,
    prepare=None,
) -> DataFrame:
    """availableNow pass of :func:`session_counts` over a parquet
    folder through a memory sink (complete mode — one row per
    session)."""

    def plan(stream: DataFrame) -> DataFrame:
        if prepare is not None:
            stream = prepare(stream)
        return session_counts(stream, ts=ts, keys=keys, gap=gap, watermark=watermark)

    return store.drain(
        spark,
        landing_dir=landing_dir,
        schema=schema,
        plan=plan,
        output_mode="complete",
        path_glob_filter=path_glob_filter,
    )
