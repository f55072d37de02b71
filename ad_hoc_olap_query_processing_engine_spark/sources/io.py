"""JDBC source: the reference's one transport (SURVEY.md §2.3).

The reference's only source is a JDBC full-table scan and its only sink is
stdout (reference: src/QueryProcessor1.java:76-96, :305-315). ``read_jdbc``
keeps that source (reference operator O1 in COVERAGE.md) and adds filter
pushdown and parallel range partitioning. Every other read goes through
``catalog.load_table``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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
