"""Watermarked event-time windowed aggregation (streaming extension
beyond the reference surface, per the build brief: "watermarks +
windowed aggs for late data").

The reference's online loop has no event-time notion (it re-reads whole
folders); a 100 TB streaming ingest needs bounded state: a watermark
lets Spark drop window state once event time passes ``window_end +
delay``, so the aggregation state is O(open windows), not O(history).

Correctness property used by the gate: over a STATIC input processed
with ``availableNow``, the windowed streaming aggregation equals the
equivalent batch GROUP BY (no row is later than the final watermark
when everything arrives in one replay) — which makes this the rare
streaming query with a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trx_spark.streaming import store


def windowed_counts(
    stream: DataFrame,
    *,
    ts: str = "ts",
    keys: list[str] | None = None,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling event-time window counts with a late-data watermark.
    Pure plan builder — works on either a streaming or batch DataFrame
    (``withWatermark`` is a no-op in batch, which is exactly the
    batch-equivalence the tests assert)."""
    keys = keys or []
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.window(ts, window).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            *keys,
            "n",
        )
    )


def run_windowed_catchup(
    spark: SparkSession,
    *,
    landing_dir: str,
    schema: StructType | str,
    ts: str = "ts",
    keys: list[str] | None = None,
    window: str = "1 day",
    watermark: str = "1 hour",
    path_glob_filter: str | None = None,
    prepare=None,
) -> DataFrame:
    """availableNow pass of :func:`windowed_counts` over a parquet
    folder, collected through a memory sink (complete mode — the
    aggregation result is small: one row per (window, key)).
    ``prepare`` (DataFrame → DataFrame) runs before the aggregation,
    e.g. to derive a proper timestamp column from raw nanos."""

    def plan(stream: DataFrame) -> DataFrame:
        if prepare is not None:
            stream = prepare(stream)
        return windowed_counts(
            stream, ts=ts, keys=keys, window=window, watermark=watermark
        )

    return store.drain(
        spark,
        landing_dir=landing_dir,
        schema=schema,
        plan=plan,
        output_mode="complete",
        path_glob_filter=path_glob_filter,
    )
