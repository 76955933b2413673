"""JSONL and CSV corpus interchange: distributed write + schema-enforced
read with corrupt-record quarantine.

JSONL is the de-facto interchange format of LLM training corpora
(every public dataset release ships .jsonl shards); CSV is the
tabular drop format every upstream system can emit. A 100 TB pipeline
needs both directions: export parquet-curated corpora as shards other
tools read, and ingest third-party drops WITHOUT trusting them —
explicit schema (never inference, which would scan twice and guess
types per-drop), PERMISSIVE mode, and a ``_corrupt_record`` column so
malformed lines are quarantined as DATA instead of failing the job or
silently vanishing.

Scale notes: both writers are plain ``df.write`` — each task writes
its own shard, no driver involvement, no collect. Both readers are
Spark's native JSON/CSV data sources (JVM line parsing, splittable
input, predicate/column pushdown where the format allows). The gate
queries stage a small deterministic fixture once per session —
the staging itself is a distributed write — and append ONE corrupt
line driver-side to pin the quarantine path; the DuckDB oracle
recomputes the expected per-source stats arithmetically from the
documents table plus the constant corrupt row.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trx_spark.cache import memo
from trx_spark.tables import load_table

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)

_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def write_jsonl(df: DataFrame, path: str, n_shards: int | None = None) -> None:
    """Export a documents-shaped frame as JSONL shards (one JSON object
    per line, the corpus interchange format)."""
    if n_shards is not None:
        df = df.repartition(n_shards)
    df.select(*_DOC_COLS).write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str, n_shards: int | None = None) -> None:
    """Export a documents-shaped frame as headerless CSV shards."""
    if n_shards is not None:
        df = df.repartition(n_shards)
    df.select(*_DOC_COLS).write.mode("overwrite").csv(path)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Schema-enforced JSONL ingest: PERMISSIVE, malformed lines land in
    ``_corrupt_record`` with every data column NULL."""
    return (
        spark.read.schema(DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """Schema-enforced headerless-CSV ingest with the same quarantine
    contract as :func:`read_jsonl`."""
    return (
        spark.read.schema(DOC_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def write_xml(df: DataFrame, path: str, n_shards: int | None = None) -> None:
    """Export as XML (<docs><doc>...</doc></docs> per shard) — the
    enterprise drop format, native in Spark 4."""
    if n_shards is not None:
        df = df.repartition(n_shards)
    (
        df.select(*_DOC_COLS)
        .write.mode("overwrite")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .format("xml")
        .save(path)
    )


def read_xml(spark: SparkSession, path: str) -> DataFrame:
    """Schema-enforced XML ingest, same quarantine contract."""
    return (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(DOC_SCHEMA)
        .load(path)
    )


def write_orc(df: DataFrame, path: str, n_shards: int | None = None) -> None:
    """Export as ORC — the columnar interchange sibling of parquet
    (predicate pushdown + column pruning come from the native reader)."""
    if n_shards is not None:
        df = df.repartition(n_shards)
    df.select(*_DOC_COLS).write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC read, padded with a NULL `_corrupt_record` so the ingest
    stats contract is uniform across formats (ORC is self-describing
    binary — a malformed file fails the read, it cannot yield a
    quarantine row)."""
    return spark.read.orc(path).withColumn(
        "_corrupt_record", F.lit(None).cast("string")
    )


# ---------------------------------------------------------------------
# Gate queries: roundtrip documents through each format + quarantine
# ---------------------------------------------------------------------

_CORRUPT_JSONL = '{"doc_id": 9999999, "text": "truncated...\n'
_CORRUPT_CSV = "not-a-bigint,only,two\n"
_CORRUPT_XML = "<docs><doc><doc_id>not-a-bigint</doc_id></doc></docs>\n"


def _staged(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Write the documents table as fmt shards once per session, then
    append one malformed line in an extra shard file."""
    def build():
        tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
        path = os.path.join(
            tempfile.gettempdir(), "trx_spark_textio", f"{tag}_{fmt}"
        )
        docs = load_table(spark, sf_dir, "documents")
        writers = {
            "jsonl": (write_jsonl, _CORRUPT_JSONL, "part-corrupt.txt"),
            "csv": (write_csv, _CORRUPT_CSV, "part-corrupt.txt"),
            "xml": (write_xml, _CORRUPT_XML, "part-corrupt.xml"),
            "orc": (write_orc, None, None),
        }
        writer, corrupt, fname = writers[fmt]
        writer(docs, path, n_shards=4)
        if corrupt is not None:
            with open(os.path.join(path, fname), "w") as fh:
                fh.write(corrupt)
        return path

    return memo("textio_staged", (spark, sf_dir, fmt), build)


def _ingest_stats(df: DataFrame) -> DataFrame:
    # Two deliberate choices here:
    # 1. Data sums run over CLEAN rows only — PERMISSIVE mode keeps
    #    partially-parsed fields alongside _corrupt_record, and a
    #    quarantined line must never leak into data statistics.
    # 2. The input is CHECKPOINTED by the gate queries before reaching
    #    this aggregate, and that is load-bearing: Spark's text parsers
    #    validate only the columns the surviving projection reads
    #    (column pruning reaches the parser), so a line whose
    #    malformation lives in a pruned column — e.g. an unparseable
    #    doc_id when a downstream consumer aggregates only n_corrupt —
    #    would silently pass as clean. The checkpoint is the parse
    #    barrier that makes quarantine projection-independent no matter
    #    how this frame is consumed; referencing every column below is
    #    belt-and-braces (and the stats are useful). The trap is pinned
    #    by tests/test_textio.py.
    clean = F.col("_corrupt_record").isNull()
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(clean, F.col("doc_id"))).alias("doc_id_sum"),
        F.countDistinct(F.when(clean, F.col("lang"))).alias("n_langs"),
        F.sum(F.when(clean, F.col("n_chars"))).alias("n_chars_sum"),
        F.sum(F.when(clean, F.length("text").cast("long"))).alias(
            "text_len_sum"
        ),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias(
            "n_corrupt"
        ),
    )


def jsonl_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → JSONL shards → schema-enforced re-ingest → per-source
    stats; the injected malformed line must surface as the NULL-source
    quarantine row, never as data and never as a job failure."""
    df = read_jsonl(spark, _staged(spark, sf_dir, "jsonl"))
    return _ingest_stats(df.localCheckpoint())


def csv_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV twin of :func:`jsonl_ingest_stats`."""
    df = read_csv(spark, _staged(spark, sf_dir, "csv"))
    return _ingest_stats(df.localCheckpoint())


def xml_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML twin of :func:`jsonl_ingest_stats` (Spark-4 native XML
    source; the malformed <doc> quarantines like a malformed line)."""
    df = read_xml(spark, _staged(spark, sf_dir, "xml"))
    return _ingest_stats(df.localCheckpoint())


def orc_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC roundtrip: documents → ORC shards → native read → the same
    per-source stats, no quarantine row (binary self-describing
    format — corruption fails the read instead of yielding rows)."""
    return _ingest_stats(read_orc(spark, _staged(spark, sf_dir, "orc")))


# The oracle recomputes what a lossless roundtrip must produce: the
# per-source stats straight off the documents view, plus the constant
# quarantine row (source NULL, one corrupt record, no data columns).
_INGEST_SQL = """
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum,
  CAST(SUM(len(text)) AS BIGINT) AS text_len_sum,
  CAST(0 AS BIGINT) AS n_corrupt
FROM documents GROUP BY source
UNION ALL
SELECT NULL, 1, NULL, 0, NULL, NULL, 1
"""


# the ORC oracle is the clean half alone: no quarantine row
_ORC_SQL = """
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum,
  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars_sum,
  CAST(SUM(len(text)) AS BIGINT) AS text_len_sum,
  CAST(0 AS BIGINT) AS n_corrupt
FROM documents GROUP BY source
"""

QUERIES = {
    "jsonl_ingest_stats": jsonl_ingest_stats,
    "csv_ingest_stats": csv_ingest_stats,
    "xml_ingest_stats": xml_ingest_stats,
    "orc_roundtrip_stats": orc_roundtrip_stats,
}

ORACLES = {
    "jsonl_ingest_stats": _INGEST_SQL,
    "csv_ingest_stats": _INGEST_SQL,
    "xml_ingest_stats": _INGEST_SQL,
    "orc_roundtrip_stats": _ORC_SQL,
}
