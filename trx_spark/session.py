"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same
configuration (AQE, Arrow, UTC session timezone, right-sized shuffle
partitions) is what we would ship to a 1000-executor cluster — only
``master`` and the partition counts change with deployment size.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """Core count for ``local[...]`` from ``$SPARK_GRAFT_CPUS`` (32 when
    unset). A value that is not a positive integer warns and falls back
    to this host's ``os.cpu_count()`` — it never reaches a master URL or
    a per-core-count artifact name."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32").strip()
    if raw.isdigit() and int(raw) > 0:
        return int(raw)
    fallback = os.cpu_count() or 1
    warnings.warn(
        f"SPARK_GRAFT_CPUS={raw!r} is not a positive integer; using {fallback}",
        stacklevel=2,
    )
    return fallback


def get_spark(app_name: str = "trx_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Notes on the choices (all matter at 100 TB, not just locally):

    - AQE on: runtime coalescing of post-shuffle partitions and skew-join
      splitting replace hand-tuned partition counts at scale.
    - Arrow on: every Pandas-UDF kernel (curve fits, decode) moves data
      in columnar batches instead of pickled rows.
    - UTC session timezone: timestamps compare bit-identically against
      the DuckDB oracle and any external warehouse.
    - shuffle partitions default to the local core count; on a real
      cluster this is overridden to ~2-3x total cores (or left to AQE's
      ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
    """
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's testdata parquet carries TIMESTAMP(NANOS), which the
        # Spark 4 reader rejects; read as raw nanos and derive timestamps
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # non-ANSI: divide-by-zero → NULL, matching the DuckDB oracle and
        # the reference's np.seterr(all='ignore') philosophy
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
