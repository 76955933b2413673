"""Watermarked stream-stream interval join (streaming extension per
the build brief): join two UNBOUNDED streams on a key within an
event-time window — e.g. click attribution onto impressions — with
both sides watermarked so the join state expires: each side buffers
only rows younger than (watermark − window), giving O(window · rate)
state instead of O(history). The batch twin of this shape is
``operators/rangejoin.interval_point_join``; in streaming the state
store plays the role of the bucketed hash side.

Semantics pinned by tests: half-open window (r_ts in [l_ts, l_ts +
window)), inner join; over a single availableNow replay of static
input the result EQUALS the batch join (watermarks drop nothing when
everything arrives in order); across checkpointed replays a row older
than the advanced watermark is dropped — the bounded-state contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trx_spark.streaming import store


def interval_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    l_ts: str,
    r_ts: str,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Inner-join ``right`` rows onto ``left`` rows with the same
    ``on`` key and ``r_ts`` in ``[l_ts, l_ts + window)``. Works on
    streaming or batch frames (withWatermark is a batch no-op).
    ``l_ts``/``r_ts`` must be distinct timestamp column names."""
    lw = left.withWatermark(l_ts, watermark)
    rw = right.withWatermark(r_ts, watermark)
    key_l, key_r = f"l.{on}", f"r.{on}"
    cond = (
        (F.col(key_l) == F.col(key_r))
        & (F.col(r_ts) >= F.col(l_ts))
        & (F.col(r_ts) < F.col(l_ts) + F.expr(f"INTERVAL {window}"))
    )
    return (
        lw.alias("l")
        .join(rw.alias("r"), cond, "inner")
        .drop(F.col(key_r))
    )


def run_interval_join_catchup(
    spark,
    *,
    landing_dir: str,
    schema,
    path_glob_filter: str | None = None,
    prepare_left=None,
    prepare_right=None,
    on: str,
    l_ts: str,
    r_ts: str,
    window: str = "6 hours",
    watermark: str = "12 hours",
):
    """availableNow replay of :func:`interval_stream_join` over two
    file-source streams of the same parquet folder, collected through a
    memory sink (append mode — inner stream-stream joins emit rows as
    both sides arrive; nothing waits on the watermark). Over static
    input this equals the batch inequality join, so the gate query
    carries a full oracle."""

    def plan(left: DataFrame, right: DataFrame) -> DataFrame:
        if prepare_left is not None:
            left = prepare_left(left)
        if prepare_right is not None:
            right = prepare_right(right)
        return interval_stream_join(
            left, right, on=on, l_ts=l_ts, r_ts=r_ts, window=window, watermark=watermark
        )

    # a stream-stream join builds FOUR state stores per shuffle
    # partition; the drain's replay width sizes them to state volume,
    # not batch compute width (see store.replay_state_width — 15.7 s
    # → 3.1 s on the identical replay)
    return store.drain(
        spark,
        landing_dir=landing_dir,
        schema=schema,
        plan=plan,
        streams=2,
        path_glob_filter=path_glob_filter,
    )
