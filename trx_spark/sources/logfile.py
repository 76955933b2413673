"""Experiment-log readers (SURVEY S4-S7).

The reference reads whitespace-separated log files where every comment
line starts with ``#`` and the LAST comment line before the data block
carries the column names (trx/utils/files.py:31-82 ``readLogFile``);
the id9 flavor adds a delay-string converter ('off' → −10.0), a
ring-current filter and dark-current subtraction
(trx/id9.py:113-190 ``readLogFile``).

Spark-first shape: one tiny driver-side preamble scan finds the header
(the reference reads the whole file into memory — we read only the
comment prefix), then the fixed-schema text reader tokenizes the data
block distributed; all converters are Column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trx_spark.functions.strings import delay_to_num, ws_parts


def read_header_names(path: str) -> list[str]:
    """Column names = last '#' line of the comment preamble
    (trx/utils/files.py:47-53). Only the preamble is read driver-side."""
    names: list[str] = []
    with open(path) as f:
        for line in f:
            s = line.strip()
            if not s.startswith("#"):
                break
            names = s[1:].split()
    if not names:
        raise ValueError(f"no '# <names>' header line found in {path}")
    return names


def read_dark_currents(path: str) -> dict[str, float]:
    """Dark currents from '# pdN dark/sec : value' comment lines
    (trx/id9.py:130-143)."""
    darks: dict[str, float] = {}
    with open(path) as f:
        for line in f:
            s = line.strip()
            if not s.startswith("#"):
                continue
            for n in (1, 2, 3):
                if f"pd{n} dark/sec" in s:
                    darks[f"pd{n}ic"] = float(s.split(":")[1])
    return darks


def read_log_file(
    spark: SparkSession,
    path: str,
    *,
    skip_first: int = 0,
    last: int | None = None,
    converters: dict | None = None,
) -> DataFrame:
    """Generic whitespace log → DataFrame (SURVEY S4). All columns come
    back as strings unless ``converters`` maps a column name to either a
    cast-type string (``{"delay": "double"}``) or a Column-returning
    callable (``{"delay": delay_to_num}``) — the reference's
    ``converters=`` dict of per-column functions
    (trx/utils/files.py:31-82 ``readLogFile``), as Column expressions so
    the conversion runs JVM-side in the scan projection.

    One path for every log: the fixed-schema text reader (no schema
    inference job) with genfromtxt's whitespace rule (``ws_parts``: tabs
    and runs of spaces are one separator), one string column per header
    name. ``skip_first``/``last`` slice the ordered data block via a
    row_number window (trx/utils/files.py:59 ``data[skip_first:last]``);
    an unsliced read plans no window, since that window is a
    single-partition shuffle wherever the log is used.
    """
    names = read_header_names(path)
    rows = spark.read.text(path).filter(
        ~F.col("value").startswith("#") & F.col("value").rlike(r"\S")
    )
    if skip_first or last is not None:
        # Deterministic file-line order even when the scan splits the
        # file: order splits by their byte offset
        # (`_metadata.file_block_start`), then rows within a split by
        # monotonically_increasing_id (which IS monotonic in read order
        # inside one split — it is only across partitions that it says
        # nothing about position). A bare mid-ordering would renumber
        # lines arbitrarily on a multi-split read.
        w = Window.orderBy(
            F.col("_metadata.file_path"),
            F.col("_metadata.file_block_start"),
            F.monotonically_increasing_id(),
        )
        rows = rows.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") > skip_first
        )
        if last is not None:
            rows = rows.filter(F.col("_rn") <= last)
    # try_element_at: a short line gives NULL fields under ANSI too
    parts = ws_parts("value")
    df = rows.select(
        *[F.try_element_at(parts, F.lit(i + 1)).alias(n) for i, n in enumerate(names)]
    )
    for name, conv in (converters or {}).items():
        if name not in df.columns:
            raise ValueError(f"converter for unknown column {name!r}")
        df = df.withColumn(
            name, conv(F.col(name)) if callable(conv) else F.col(name).cast(conv)
        )
    return df


def read_id9_log(
    spark: SparkSession,
    path: str,
    *,
    skip_first: int = 0,
    last: int | None = None,
    srcur_min: float = 30.0,
    subtract_dark: bool = False,
    monitor_diodes: tuple[str, ...] = ("pd1ic", "pd2ic", "pd3ic"),
) -> DataFrame:
    """id9-style log (SURVEY S5; trx/id9.py:113-190): delay parsing
    ('off' → −10.0, unit suffixes via regexp — no UDF), ring-current
    filter, optional dark subtraction ``pdNic − dark·timeic``."""
    df = read_log_file(spark, path, skip_first=skip_first, last=last)
    # Cast a column to double ONLY when no non-null value is lost — a
    # textual column (a date, a status tag) must survive as string, as
    # the reference's genfromtxt(dtype=None) keeps it. One tiny
    # aggregate over the (small, driver-adjacent) log decides.
    candidates = [c for c in df.columns if c not in ("file", "time", "delay")]
    if candidates:
        counts = df.agg(
            *(F.count(c).alias(f"n_{c}") for c in candidates),
            *(
                F.count(F.col(c).try_cast("double")).alias(f"c_{c}")
                for c in candidates
            ),
        ).collect()[0]
        for c in candidates:
            if counts[f"c_{c}"] == counts[f"n_{c}"]:
                df = df.withColumn(c, F.col(c).try_cast("double"))
    if "delay" in df.columns:
        df = df.withColumn("delay_str", F.col("delay")).withColumn(
            "delay", F.round(delay_to_num("delay_str"), 12)
        )
    if subtract_dark:
        darks = read_dark_currents(path)
        for diode, dark in darks.items():
            # monitor_diodes restricts which diodes are dark-corrected
            # (id9.py's monitor selection) — previously accepted but dead
            if (
                diode in monitor_diodes
                and diode in df.columns
                and "timeic" in df.columns
            ):
                df = df.withColumn(diode, F.col(diode) - F.lit(dark) * F.col("timeic"))
    if "currentmA" in df.columns:
        df = df.filter(F.col("currentmA") > F.lit(srcur_min))
    return df


def read_diagnostic(spark: SparkSession, path: str) -> DataFrame:
    """diagnostics.log → (file, scan) with finite delays only, delay
    rounded to 12 dp (SURVEY S6; trx/id9.py:27-56).

    Delays here are already numeric seconds; any unparseable token
    ('done', 'off', …) becomes NULL — the reference's ``_conv``
    (id9.py:20-25) maps them to NaN and drops them via isfinite."""
    from trx_spark.functions.strings import basename

    text = spark.read.text(path)
    rows = text.filter(~F.col("value").startswith("#")).filter(F.trim("value") != "")
    parts = ws_parts("value")
    df = rows.select(
        parts.getItem(2).alias("fname"),
        parts.getItem(3).alias("delay_raw"),
    )
    # try_cast: ANSI mode (Spark 4 default) makes plain cast throw on
    # 'off'/'done' tokens; the reference maps them to NaN (id9.py:20-25)
    delay = F.round(F.col("delay_raw").try_cast("double"), 12)
    return (
        df.withColumn("scan", delay)
        .filter(F.col("scan").isNotNull() & ~F.isnan("scan"))
        .select(basename("fname").alias("file"), "scan")
    )


def read_motor_dump(spark: SparkSession, path: str) -> DataFrame:
    """Motor-position dump (SURVEY S7; trx/id9.py:338-362
    ``readMotorDump``): whitespace columns (name, user, dial) with
    interleaved repeated header lines — dropped by filtering rows whose
    name column equals the literal header token."""
    text = spark.read.text(path)
    rows = text.filter(F.trim("value") != "")
    parts = ws_parts("value")
    df = rows.select(
        parts.getItem(0).alias("name"),
        parts.getItem(1).alias("user"),
        parts.getItem(2).alias("dial"),
    )
    df = df.filter(F.col("name") != "name")
    return df.withColumn("user", F.col("user").try_cast("double")).withColumn(
        "dial", F.col("dial").try_cast("double")
    ).filter(F.col("user").isNotNull())
