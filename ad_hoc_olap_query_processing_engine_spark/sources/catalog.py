"""Table registry: parquet dirs → temp views, plus the `sales` fixture view.

The reference's only relation is ``sales(cust, prod, day, month, year, state,
quant)`` read fully from PostgreSQL with no pushdown (reference:
src/QueryProcessor1.java:76-96). We derive an equivalent relation from the
driver's TPC-H-ish parquet tables (FIXTURES.md §1 fallback view) so that the
reference's golden queries run verbatim: fifteen supplier nations are mapped
onto the literal states 'NY'/'CT'/'NJ' used by the golden predicates (state
comes from the *supplier's* nation so it varies within a customer — deriving
it from the customer's nation would make per-cust-per-state aggregates
degenerate), and year 1997 exists natively in ``o_orderdate``.

Everything is a temp view over parquet — scans get column pruning and
predicate pushdown from Catalyst for free, and the derivation join keeps the
dimension sides (customer/nation/part) broadcastable at any scale factor.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from ..operators.iterutil import footer_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ANSI SQL, runnable by both Spark and DuckDB (the DuckDB oracle inlines this
# as a CTE — see phi/sqlgen.py). Casts pin int widths so Spark and DuckDB
# schemas agree (DuckDB's month() returns BIGINT, Spark's returns INT).
SALES_VIEW_SQL = """\
SELECT c.c_name                                    AS cust,
       p.p_brand                                   AS prod,
       CAST(day(o.o_orderdate)   AS INT)           AS day,
       CAST(month(o.o_orderdate) AS INT)           AS month,
       CAST(year(o.o_orderdate)  AS INT)           AS year,
       CASE WHEN n.n_name IN ('NATION_0','NATION_5','NATION_10','NATION_15','NATION_20')
                 THEN 'NY'
            WHEN n.n_name IN ('NATION_1','NATION_6','NATION_11','NATION_16','NATION_21')
                 THEN 'CT'
            WHEN n.n_name IN ('NATION_2','NATION_7','NATION_12','NATION_17','NATION_22')
                 THEN 'NJ'
            ELSE n.n_name END                      AS state,
       CAST(l.l_quantity AS INT)                   AS quant
FROM lineitem l
JOIN orders   o ON l.l_orderkey  = o.o_orderkey
JOIN customer c ON o.o_custkey   = c.c_custkey
JOIN supplier su ON l.l_suppkey  = su.s_suppkey
JOIN nation   n ON su.s_nationkey = n.n_nationkey
JOIN part     p ON l.l_partkey   = p.p_partkey"""

SALES_COLUMNS = ("cust", "prod", "day", "month", "year", "state", "quant")
# the types SALES_VIEW_SQL's casts pin: the materialized layout is read with
# this schema and no inference job
SALES_SCHEMA = "cust string, prod string, day int, month int, year int, state string, quant int"


def read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    """One parquet file as Spark reads it, and its nanos timestamp columns.

    The schema comes from the footer (``iterutil.footer_schema``), so the
    read starts no Spark job; only a footer that cannot be read or mapped
    leaves the schema to Spark's inference job.  Nanos columns surface as
    int64 epoch-nanos under ``spark.sql.legacy.parquet.nanosAsLong``, which
    is set here because Spark cannot map TIMESTAMP(NANOS) natively."""
    schema, nanos_cols = footer_schema(path)
    if nanos_cols:
        # runtime-settable; required even on externally-built sessions (the
        # driver hands us a vanilla SparkSession)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        return spark.read.parquet(path), nanos_cols
    return spark.read.schema(schema).parquet(path), nanos_cols


def normalize_timestamps(spark: SparkSession, df: DataFrame, nanos_cols: list[str]) -> DataFrame:
    """Rebuild epoch-nanos columns as micros timestamps (matching how DuckDB
    — the oracle engine — coerces nanos to its micros TIMESTAMP) and cast
    ``TIMESTAMP_NTZ`` columns to ``TIMESTAMP`` under a UTC session."""
    for col in nanos_cols:
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    ntz_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz_cols:
        # Deliberately a SESSION-level setting, not scoped to this read: the
        # whole engine's timestamp contract (and every DuckDB oracle) is
        # UTC-epoch semantics, and the driver hands us vanilla sessions this
        # function must make correct. A host app embedding this library with
        # its own non-UTC session timezone should pin UTC itself (our
        # session factory does) — mixing timezone conventions inside one
        # session is not a supported configuration.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumns({c: F.col(c).cast(TimestampType()) for c in ntz_cols})
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one driver table, normalizing every timestamp flavor to TIMESTAMP.

    The read takes its schema from the parquet footer and starts no Spark
    job (:func:`read_parquet`).  Driver parquet has shipped ``ts`` as both
    ``timestamp[ns]`` (round 1) and ``timestamp[us]`` with no timezone
    (round 2+), which vanilla Spark reads as ``TIMESTAMP_NTZ`` — a type
    ``unix_micros`` and ``withWatermark`` reject. We pin the session timezone
    to UTC (runtime-settable, works on externally-built sessions) and cast
    NTZ → TIMESTAMP; under UTC the cast is a pure metadata change (identical
    epoch micros), so results match DuckDB, which reads the same naive
    micros as its own TIMESTAMP.
    """
    df, nanos_cols = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_timestamps(spark, df, nanos_cols)


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every driver parquet table in ``sf_dir`` as a temp view."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)


def register_sales_view(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register base tables plus the derived ``sales`` view."""
    register_tables(spark, sf_dir)
    spark.sql(f"CREATE OR REPLACE TEMP VIEW sales AS {SALES_VIEW_SQL}")


def sales_df(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """The ``sales`` relation as a DataFrame.

    Default: the live 5-way derivation view (always correct, no state).
    With the :data:`SALES_CACHE_ENV` layout optimization enabled, reads the
    once-materialized year-partitioned parquet instead (with
    :data:`SALES_SCHEMA`, so the read starts no job) — same rows, but Φ
    queries skip the derivation join and WHERE year=... becomes partition
    pruning instead of a post-join filter.
    """
    if sales_cache_enabled():
        path = materialize_sales(spark, sf_dir)
        return spark.read.schema(SALES_SCHEMA).parquet(path).select(*SALES_COLUMNS)
    register_sales_view(spark, sf_dir)
    return spark.table("sales")


# ---------------------------------------------------------------------------
# Materialized `sales` layout (documented optimization, opt-in via env).
#
# The derivation view joins lineitem against 5 dimensions on every Φ query.
# A warehouse deployment would maintain `sales` as a materialized table laid
# out for the workload; this mirrors that: written ONCE per (sf_dir, data
# mtime) under the system temp dir, partitioned by `year` so the goldens'
# `{year}[==]{1997}` WHERE prunes whole partitions at the file listing level
# (at 100 TB: the same layout, partitioned by year on the object store, cuts
# each Φ scan to the years it touches). Correctness runs never enable this —
# the driver's vanilla sessions take the view path.
# ---------------------------------------------------------------------------

SALES_CACHE_ENV = "SPARK_GRAFT_SALES_CACHE"


def sales_cache_enabled() -> bool:
    return os.environ.get(SALES_CACHE_ENV, "").lower() in ("1", "true", "yes")


def _sales_cache_dir(sf_dir: str) -> str:
    """Cache key = sf_dir path + lineitem mtime: regenerated driver data gets
    a fresh materialization instead of silently reading a stale layout."""
    li = os.path.join(sf_dir, "lineitem.parquet")
    try:
        mtime = str(int(os.path.getmtime(li)))
    except OSError:
        mtime = "0"
    sig = hashlib.md5(f"{os.path.abspath(sf_dir)}:{mtime}".encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_sales_{sig}")


def materialize_sales(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, cache_dir: str | None = None
) -> str:
    """Write the derived ``sales`` relation once as year-partitioned parquet;
    idempotent (keyed on the _SUCCESS marker). Returns the parquet path."""
    out = cache_dir or _sales_cache_dir(sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        register_tables(spark, sf_dir)
        (
            spark.sql(SALES_VIEW_SQL)
            # cluster rows of one year into one task → one compact file per
            # partition dir (parquet row groups keep the read side splittable)
            .repartition("year")
            .write.mode("overwrite")
            .partitionBy("year")
            .parquet(out)
        )
    return out
