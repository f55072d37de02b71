"""Source/sink surface beyond the default parquet registry (SURVEY.md §2.3).

The reference's only source is a JDBC full-table scan and its only sink is
stdout (reference: src/QueryProcessor1.java:76-96, :305-315). Here: parquet /
ORC / CSV / JSON readers and writers, partitioned layouts, and an explicit-
schema path (never infer schemas in production — inference is a full extra
pass). Delta/Iceberg need jars not present in this environment; their absence
is handled, not hidden (``lakehouse_available``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import scoped_conf

FORMATS = ("parquet", "orc", "csv", "json")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", schema: T.StructType | None = None) -> DataFrame:
    r = spark.read.format(fmt)
    if fmt == "csv":
        r = r.option("header", "true")
    if schema is not None:
        r = r.schema(schema)
    elif fmt == "csv":
        # explicit schemas are the production path; inference only as an
        # opt-in for ad-hoc exploration
        r = r.option("inferSchema", "true")
    return r.load(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    driver: str | None = None,
) -> DataFrame:
    """Live JDBC table scan — the reference's actual source transport
    (reference: src/QueryProcessor1.java:76-96 reads the whole `sales` table
    over a single PostgreSQL connection). The Spark-first upgrades over that
    single-cursor scan:

    - WHERE/projection pushdown: Catalyst pushes filters into the remote SQL
      (visible as ``PushedFilters`` in the scan node), so the database ships
      only matching rows — the reference always ships the full table.
    - Parallel range partitioning: with ``partition_column`` + bounds, each
      of ``num_partitions`` executors opens its own cursor over a key range;
      at scale the source reads as N concurrent streams instead of one.

    Works against any JDBC driver on the classpath (tests use the Derby
    embedded driver that ships with Spark)."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        r = r.option("driver", driver)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError("partition_column requires lower/upper bounds and num_partitions")
        r = (
            r.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return r.load()


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text source (one ``value`` string column per line) —
    the raw-corpus ingestion path; no schema, no inference pass."""
    return spark.read.text(path)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """``binaryFile`` source: (path, modificationTime, length, content
    binary) per file — the real ingestion path for the multimodal tier
    (operators/multimodal.py consumes exactly this shape: an opaque binary
    payload plus metadata). ``glob`` filters by filename pattern at the
    listing level. Spark caps per-file size via
    spark.sql.sources.binaryFile.maxLength; large media should be chunked
    upstream."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def lakehouse_available(spark: SparkSession, fmt: str = "delta") -> bool:
    """True if a lakehouse format's jars are on the classpath. Not bundled in
    this environment — connectors must degrade, not crash."""
    try:
        spark.read.format(fmt).load("/nonexistent")
        return True
    except Exception as exc:  # noqa: BLE001
        # the error CLASS appears in the message (e.g. [DATA_SOURCE_NOT_FOUND]),
        # never in the Python exception type name
        msg = str(exc)
        return "DATA_SOURCE_NOT_FOUND" not in msg and "Failed to find" not in msg


def overwrite_partitions(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str = "parquet",
) -> None:
    """Idempotent PARTITION-LEVEL overwrite: replace only the partitions
    present in ``df``, leaving sibling partitions untouched — the backfill
    write path a warehouse re-runs one day/hour with (static overwrite mode
    would clobber the WHOLE table root; append would duplicate the rerun).
    Implemented with Spark's dynamic partitionOverwriteMode, set per-write
    and restored, so the session default (vanilla driver sessions included)
    is never mutated.  At 100 TB this is how late-arriving corrections land:
    recompute one partition's rows, rewrite exactly that directory.
    """
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        df.write.mode("overwrite").format(fmt).partitionBy(*partition_by).save(path)
