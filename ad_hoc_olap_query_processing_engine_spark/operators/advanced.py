"""Advanced relational surface: as-of join, pivot/unpivot, full-outer join,
exact percentiles, and the Python-UDF path (SURVEY.md §2.3).

asof_join is the reusable primitive Spark lacks natively: implemented as
union + partitioned window with last(ignorenulls) — ONE shuffle on the
partition key, no range explosion, no per-group Python. That is the shape
that survives 100 TB (the pandas merge_asof-per-group alternative ships every
row through Arrow).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register


def _dec(col: str | Column, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


# ---------------------------------------------------------------------------
# as-of join (generic primitive + registered demo query)
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_cols: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """For each left row, attach the value columns of the latest right row
    with ``right_ts <= left_ts`` within the same partition keys.

    union → window(last, ignorenulls) — a single shuffle on the partition
    key; right rows sort before left rows at equal timestamps so same-instant
    matches are included (ASOF ``>=`` semantics). Right rows that tie on
    (partition, timestamp) are further ordered by their value columns, so the
    pick is deterministic (greatest value wins) instead of depending on
    intra-tie sort order.
    """
    lcols = [c for c in left.columns]
    l_tagged = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        *[F.lit(None).cast(dict(left.dtypes).get(c, "string")).alias(c) for c in lcols if c not in partition_cols],
        *partition_cols,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in value_cols],
    ).select(*l_tagged.columns)
    unioned = l_tagged.unionByName(r_tagged)
    w = (
        W.partitionBy(*partition_cols)
        .orderBy("__ts", "__is_left", *[F.asc_nulls_first(f"__r_{c}") for c in value_cols])
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = unioned
    for c in value_cols:
        out = out.withColumn(f"__r_{c}", F.last(f"__r_{c}", ignorenulls=True).over(w))
    out = out.filter(F.col("__is_left") == 1).drop("__ts", "__is_left")
    for c in value_cols:
        out = out.withColumnRenamed(f"__r_{c}", f"asof_{c}")
    return out


def rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click event gets the value of the user's latest prior purchase."""
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(
        clicks, purchases, ["user_id"], left_ts="ts", right_ts="ts", value_cols=["value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_value").alias("last_purchase_value"),
    )


REL_ASOF_JOIN_SQL = """\
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, p.value AS last_purchase_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts"""


# ---------------------------------------------------------------------------
# rel_asof_tolerance — the bounded-staleness as-of variants every market-data
# / feature-store pipeline needs: BACKWARD with a max-staleness window (a
# quote older than the tolerance is no match) and FORWARD (earliest right row
# at-or-after the probe). Same single-shuffle union-merge as asof_join — the
# tolerance is a post-pick null-out (if the closest match is already outside
# the window, no in-window match exists), and the forward direction is the
# mirrored window frame over the SAME sorted partition, so both directions
# share one exchange. Oracle: DuckDB ASOF JOIN both directions + CASE.
# ---------------------------------------------------------------------------

ASOF_TOL_US = 3_600_000_000  # 1 hour


def _click_purchase_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every click with its backward (``__b``, at-or-before) and strictly
    forward (``__f``) purchase candidate as ``struct<us, value>``, both from
    one sorted partition pass.  Shared by the as-of siblings."""
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", F.unix_micros("ts").alias("p_us")
    )
    # the matched row's (us, value) travels as ONE struct so both fields
    # always come from the SAME purchase row — separate last(value)/last(us)
    # calls with ignorenulls would pick different rows when value is NULL
    l_tagged = clicks.select(
        "event_id",
        "user_id",
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast("struct<us:bigint,value:double>").alias("__r"),
    )
    r_tagged = purchases.select(
        F.lit(None).cast("bigint").alias("event_id"),
        "user_id",
        F.col("ts").alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.struct(F.col("p_us").alias("us"), F.col("value").alias("value")).alias("__r"),
    )
    u = l_tagged.unionByName(r_tagged)
    # backward: rights sort before lefts at equal ts (>= semantics); rights
    # tying on (user, ts) further order by the struct (us, value), so the
    # Spark pick is deterministic — the DuckDB ASOF oracle's pick among
    # exact-(user, ts) duplicate purchases is arbitrary, so the oracle
    # contract (like rel_asof_join's) assumes the event stream has no such
    # duplicates, which the generated data satisfies
    w = W.partitionBy("user_id").orderBy("__ts", "__is_left", F.asc_nulls_first("__r"))
    wb = w.rowsBetween(W.unboundedPreceding, 0)
    # forward over the SAME sort: frame starts at the current row and runs
    # forward; at equal ts the left row precedes nothing on the right side
    # frame-wise (rights at the same ts sort earlier, hence NOT in the
    # forward frame) → strictly-later semantics, mirrored in the oracle with
    # e.ts < p.ts
    wf = w.rowsBetween(0, W.unboundedFollowing)
    return (
        u.withColumn("__b", F.last("__r", ignorenulls=True).over(wb))
        .withColumn("__f", F.first("__r", ignorenulls=True).over(wf))
        .filter(F.col("__is_left") == 1)
    )


def rel_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _click_purchase_candidates(spark, sf_dir)
    us = F.unix_micros("__ts")
    return out.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        F.when(us - F.col("__b.us") <= ASOF_TOL_US, F.col("__b.value")).alias(
            "prior_purchase_1h"
        ),
        F.when(F.col("__f.us") - us <= ASOF_TOL_US, F.col("__f.value")).alias(
            "next_purchase_1h"
        ),
    )


REL_ASOF_TOLERANCE_SQL = f"""\
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purch AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
back AS (
  SELECT c.event_id, c.user_id, c.ts,
         CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= {ASOF_TOL_US}
              THEN p.value END AS prior_purchase_1h
  FROM clicks c ASOF LEFT JOIN purch p
    ON c.user_id = p.user_id AND c.ts >= p.ts),
fwd AS (
  SELECT c.event_id, c.user_id,
         CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= {ASOF_TOL_US}
              THEN p.value END AS next_purchase_1h
  FROM clicks c ASOF LEFT JOIN purch p
    ON c.user_id = p.user_id AND c.ts < p.ts)
SELECT b.event_id, b.user_id, epoch_us(b.ts) AS ts_us,
       b.prior_purchase_1h, f.next_purchase_1h
FROM back b JOIN fwd f ON b.event_id = f.event_id"""


# ---------------------------------------------------------------------------
# rel_asof_nearest — the third merge_asof direction: attach whichever
# purchase is CLOSER in time, backward (at-or-before) or strictly-forward,
# tie → backward (pandas' nearest rule).  Same single-shuffle union-window
# machinery as rel_asof_tolerance — both direction candidates come from ONE
# sorted partition pass, the pick is a pure row-local comparison of the two
# candidate structs.  Registered output carries the chosen value, the
# signed distance in micros (negative = matched backward), and the
# direction flag, all integer/exact so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------


def rel_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _click_purchase_candidates(spark, sf_dir)
    us = F.unix_micros("__ts")
    d_back = us - F.col("__b.us")   # >= 0 when backward candidate exists
    d_fwd = F.col("__f.us") - us    # > 0 when forward candidate exists
    pick_back = F.col("__f").isNull() | (F.col("__b").isNotNull() & (d_back <= d_fwd))
    return out.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        F.when(pick_back, F.col("__b.value")).otherwise(F.col("__f.value")).alias(
            "nearest_purchase_value"
        ),
        F.when(pick_back, -d_back).otherwise(d_fwd).cast("bigint").alias("signed_gap_us"),
        F.when(
            F.col("__b").isNull() & F.col("__f").isNull(), F.lit(None).cast("string")
        )
        .when(pick_back, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


REL_ASOF_NEAREST_SQL = """\
WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
purch AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
back AS (
  SELECT c.event_id, c.user_id, c.ts, p.value AS b_value, epoch_us(p.ts) AS b_us
  FROM clicks c ASOF LEFT JOIN purch p
    ON c.user_id = p.user_id AND c.ts >= p.ts),
fwd AS (
  SELECT c.event_id, p.value AS f_value, epoch_us(p.ts) AS f_us
  FROM clicks c ASOF LEFT JOIN purch p
    ON c.user_id = p.user_id AND c.ts < p.ts)
SELECT b.event_id, b.user_id, epoch_us(b.ts) AS ts_us,
       CASE WHEN f.f_us IS NULL THEN b.b_value
            WHEN b.b_us IS NULL THEN f.f_value
            WHEN epoch_us(b.ts) - b.b_us <= f.f_us - epoch_us(b.ts) THEN b.b_value
            ELSE f.f_value END AS nearest_purchase_value,
       CAST(CASE WHEN f.f_us IS NULL AND b.b_us IS NULL THEN NULL
            WHEN f.f_us IS NULL THEN -(epoch_us(b.ts) - b.b_us)
            WHEN b.b_us IS NULL THEN f.f_us - epoch_us(b.ts)
            WHEN epoch_us(b.ts) - b.b_us <= f.f_us - epoch_us(b.ts)
                 THEN -(epoch_us(b.ts) - b.b_us)
            ELSE f.f_us - epoch_us(b.ts) END AS BIGINT) AS signed_gap_us,
       CASE WHEN f.f_us IS NULL AND b.b_us IS NULL THEN NULL
            WHEN f.f_us IS NULL THEN 'backward'
            WHEN b.b_us IS NULL THEN 'forward'
            WHEN epoch_us(b.ts) - b.b_us <= f.f_us - epoch_us(b.ts) THEN 'backward'
            ELSE 'forward' END AS direction
FROM back b JOIN fwd f ON b.event_id = f.event_id"""


register("rel_asof_nearest", rel_asof_nearest, REL_ASOF_NEAREST_SQL)


# ---------------------------------------------------------------------------
# pivot / unpivot
# ---------------------------------------------------------------------------

_PIVOT_YEARS = list(range(1995, 2002))


def rel_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    base = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", F.year("o_orderdate").alias("yr"), _dec("l_extendedprice").alias("price"))
    )
    pivoted = base.groupBy("n_name").pivot("yr", _PIVOT_YEARS).agg(
        F.sum("price").cast("double")
    )
    return pivoted.select(
        "n_name", *[F.col(str(y)).alias(f"rev_{y}") for y in _PIVOT_YEARS]
    )


REL_PIVOT_REVENUE_SQL = "SELECT n_name,\n" + ",\n".join(
    f"       CAST(SUM(CASE WHEN year(o_orderdate) = {y} "
    f"THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_{y}"
    for y in _PIVOT_YEARS
) + """
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name"""


_MEASURES = ["l_quantity", "l_discount", "l_tax"]


def rel_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    long = l.unpivot(
        ids=["l_orderkey"], values=_MEASURES, variableColumnName="measure", valueColumnName="val"
    )
    return long.groupBy("measure").agg(
        (F.sum(F.col("val").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_value"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


REL_UNPIVOT_MEASURES_SQL = "\nUNION ALL\n".join(
    f"SELECT '{m}' AS measure, "
    f"CAST(SUM(CAST({m} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value, "
    f"COUNT(*) AS n_rows FROM lineitem"
    for m in _MEASURES
)


# ---------------------------------------------------------------------------
# full outer join
# ---------------------------------------------------------------------------


def rel_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (nation, year): demand side (customers ordering) FULL OUTER JOIN
    supply side (suppliers shipping) — either side may be absent."""
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    demand = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )
    supply = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("l_shipdate").cast("int").alias("yr"))
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )
    joined = demand.join(supply, ["n_name", "yr"], "full_outer")
    return joined.select(
        "n_name",
        "yr",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


REL_FULL_OUTER_ACTIVITY_SQL = """\
WITH demand AS (
  SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
         COUNT(DISTINCT o_custkey) AS n_customers
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2),
supply AS (
  SELECT n_name, CAST(year(l_shipdate) AS INT) AS yr,
         COUNT(DISTINCT l_suppkey) AS n_suppliers
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2)
SELECT COALESCE(d.n_name, s.n_name)      AS n_name,
       COALESCE(d.yr, s.yr)              AS yr,
       COALESCE(d.n_customers, 0)        AS n_customers,
       COALESCE(s.n_suppliers, 0)        AS n_suppliers
FROM demand d FULL OUTER JOIN supply s
  ON d.n_name = s.n_name AND d.yr = s.yr"""


# ---------------------------------------------------------------------------
# exact percentiles (order statistics; bit-identical to DuckDB quantile_cont)
# ---------------------------------------------------------------------------


def rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    return l.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50_price"),
        F.percentile("l_extendedprice", 0.95).alias("p95_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


REL_PERCENTILES_SQL = """\
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5)  AS p50_price,
       quantile_cont(l_extendedprice, 0.95) AS p95_price,
       MAX(l_extendedprice)                 AS max_price
FROM lineitem GROUP BY l_returnflag"""


# ---------------------------------------------------------------------------
# Python UDF surface: Arrow-vectorized pandas_udf with exact integer
# semantics, so even the UDF path is oracle-checked.
# ---------------------------------------------------------------------------


def _n_tokens_kernel(text: pd.Series) -> pd.Series:
    return text.str.split(" ").str.len().astype("int32")


def udf_token_count_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_tokens = F.pandas_udf(_n_tokens_kernel, returnType="int")

    d = load_table(spark, "documents", sf_dir)
    return (
        d.withColumn("n_tokens", n_tokens("text"))
        .groupBy("lang")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


UDF_TOKEN_COUNT_PANDAS_SQL = """\
SELECT lang,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(MAX(len(string_split(text, ' '))) AS INT)    AS max_tokens
FROM documents GROUP BY lang"""


register("rel_asof_join", rel_asof_join, REL_ASOF_JOIN_SQL)
register("rel_asof_tolerance", rel_asof_tolerance, REL_ASOF_TOLERANCE_SQL)
register("rel_pivot_revenue", rel_pivot_revenue, REL_PIVOT_REVENUE_SQL)
register("rel_unpivot_measures", rel_unpivot_measures, REL_UNPIVOT_MEASURES_SQL)
register("rel_full_outer_activity", rel_full_outer_activity, REL_FULL_OUTER_ACTIVITY_SQL)
register("rel_percentiles", rel_percentiles, REL_PERCENTILES_SQL)
register("udf_token_count_pandas", udf_token_count_pandas, UDF_TOKEN_COUNT_PANDAS_SQL)


# ---------------------------------------------------------------------------
# rel_correlated_subquery — scalar correlated subqueries via the SQL API.
# ---------------------------------------------------------------------------


def rel_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-nation-average balance. Catalyst decorrelates the
    scalar subqueries into joins (no per-row execution). The comparison is
    rewritten as ``balance * count > sum`` in exact DECIMAL so both engines
    agree bit-for-bit (a double AVG would differ in summation order)."""
    load_table(spark, "customer", sf_dir).createOrReplaceTempView("customer")
    return spark.sql(REL_CORRELATED_SUBQUERY_SQL)


REL_CORRELATED_SUBQUERY_SQL = """\
SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM customer c
WHERE CAST(c.c_acctbal AS DECIMAL(18,2))
      * (SELECT COUNT(*) FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
      > (SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(18,2))) FROM customer c3
         WHERE c3.c_nationkey = c.c_nationkey)"""


# ---------------------------------------------------------------------------
# rel_string_agg — deterministic string aggregation (sorted collect).
# ---------------------------------------------------------------------------


def rel_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias(
                "segments"
            ),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


REL_STRING_AGG_SQL = """\
SELECT n_name,
       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
       COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""


register("rel_correlated_subquery", rel_correlated_subquery, REL_CORRELATED_SUBQUERY_SQL)
register("rel_string_agg", rel_string_agg, REL_STRING_AGG_SQL)


# ---------------------------------------------------------------------------
# udf_grouped_zscore — grouped-map applyInPandas (the UDAF surface).
# ---------------------------------------------------------------------------


def _zscore_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-language z-score of token counts. All moments come from exact
    integer sums (order-independent), so the float math is bit-reproducible
    and the DuckDB oracle can mirror the identical formula."""
    n = len(pdf)
    s = int(pdf["n_tokens"].sum())
    sq = int((pdf["n_tokens"].astype("int64") ** 2).sum())
    mean = s / n
    var = (sq * n - s * s) / (n * n)
    std = var**0.5
    out = pdf[["doc_id", "lang", "n_tokens"]].copy()
    out["z"] = 0.0 if std == 0 else ((pdf["n_tokens"] - mean) / std)
    return out


def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " "))
    )
    # keyed repartition: without it AQE coalesces the grouped kernel's
    # exchange to one partition and a single Python worker folds every
    # language (parallelism is still capped by |langs|, but that beats 1)
    return (
        d.select("doc_id", "lang", "n_tokens")
        .repartition(spark.sparkContext.defaultParallelism, "lang")
        .groupBy("lang")
        .applyInPandas(
            _zscore_kernel, schema="doc_id long, lang string, n_tokens int, z double"
        )
    )


UDF_GROUPED_ZSCORE_SQL = """\
WITH t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
           FROM documents),
m AS (SELECT lang, COUNT(*) AS n, SUM(n_tokens) AS s,
             SUM(CAST(n_tokens AS BIGINT) * n_tokens) AS sq
      FROM t GROUP BY lang)
SELECT t.doc_id, t.lang, CAST(t.n_tokens AS INT) AS n_tokens,
       CASE WHEN (sq * n - s * s) = 0 THEN 0.0
            ELSE (t.n_tokens - s * 1.0 / n)
                 / sqrt((sq * n - s * s) * 1.0 / (n * n)) END AS z
FROM t JOIN m ON t.lang = m.lang"""


register("udf_grouped_zscore", udf_grouped_zscore, UDF_GROUPED_ZSCORE_SQL)


# ---------------------------------------------------------------------------
# udf_weighted_avg — GROUPED_AGG pandas_udf, the third Python-kernel flavor
# (scalar pandas_udf = udf_token_count, grouped-map applyInPandas =
# udf_grouped_zscore, grouped-agg = this): the whole group's columns arrive
# as pandas Series and ONE scalar returns. Arithmetic is exact int64 inside
# the kernel (micro-unit values × integer weights), one true division at the
# end — deterministic against DuckDB's identical formula. Cost note, honest:
# GROUPED_AGG UDAFs get no partial aggregation (every row shuffles to its
# group), so built-ins remain the hot path; this certifies the escape hatch.
# ---------------------------------------------------------------------------


def udf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL policy pinned up front: SQL aggregates skip NULLs silently, but a
    # pandas int64 cast of NaN raises — filter NULL value/user_id before the
    # groupBy (mirrored in the oracle's WHERE) and defensively drop any
    # remaining NaN pairs in the kernel so semantics stay SQL-identical even
    # on nullable regenerations of the data.
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            (F.col("value").cast("decimal(18,6)") * 1_000_000).cast("bigint").alias("micros"),
            (F.col("user_id") % 5 + 1).cast("bigint").alias("w"),
        )
    )

    @F.pandas_udf("double")
    def wavg(micros: pd.Series, w: pd.Series) -> float:
        keep = micros.notna() & w.notna()
        micros, w = micros[keep], w[keep]
        num = int((micros.astype("int64") * w.astype("int64")).sum())
        den = int(w.sum())
        return num / den / 1e6

    # a GROUPED_AGG pandas UDF cannot mix with built-in aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count rides a second tiny
    # aggregation joined on the group key.  Keyed repartition first: a
    # grouped-agg pandas UDF ships every row to Python, and AQE otherwise
    # coalesces its exchange to one partition/worker (the ts_lttb finding;
    # parallelism is capped by |event_type| either way, but 4 workers
    # beat 1).
    ev = ev.repartition(spark.sparkContext.defaultParallelism, "event_type")
    wavgs = ev.groupBy("event_type").agg(wavg("micros", "w").alias("wavg_value"))
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return wavgs.join(F.broadcast(counts), "event_type")


UDF_WEIGHTED_AVG_SQL = """\
SELECT event_type,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                * (user_id % 5 + 1)) AS DOUBLE)
         / CAST(SUM(user_id % 5 + 1) AS DOUBLE) / 1000000.0 AS wavg_value,
       COUNT(*) AS n_events
FROM events
WHERE value IS NOT NULL AND user_id IS NOT NULL
GROUP BY event_type"""


register("udf_weighted_avg", udf_weighted_avg, UDF_WEIGHTED_AVG_SQL)


# ---------------------------------------------------------------------------
# rel_range_join — interval θ-join: for each purchase, count/sum the same
# user's click events in the 10 minutes leading up to it. The join has an
# equi key (user_id) plus the range condition, so Spark plans a hash join on
# the key with the range as a post-condition — the scalable shape (a pure
# range θ-join with no equi key would be a broadcast nested loop; at 100 TB
# you bucket time into coarse buckets and equi-join on (user, bucket)).
# ---------------------------------------------------------------------------


def rel_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    # the two sides derive from the same scan — rename the click-side key so
    # the equi condition resolves unambiguously (no trivially-true-predicate
    # fallback warning from the self-join disambiguator)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    joined = purchases.join(
        clicks,
        (purchases["user_id"] == clicks["c_user_id"])
        & (clicks["c_ts"] >= purchases["p_ts"] - F.expr("INTERVAL 10 MINUTES"))
        & (clicks["c_ts"] < purchases["p_ts"]),
        "left",
    )
    return joined.groupBy("purchase_id").agg(
        F.count(clicks["c_ts"]).alias("n_clicks_before"),
        F.sum(_dec(clicks["c_value"], 6)).cast("double").alias("click_value_before"),
    )


REL_RANGE_JOIN_SQL = """\
SELECT p.event_id AS purchase_id,
       COUNT(c.ts) AS n_clicks_before,
       CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS click_value_before
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id"""


# ---------------------------------------------------------------------------
# rel_window_suite — the analytic-function surface in one query: lag/lead,
# dense_rank, ntile, first/last over a per-customer order timeline. All
# value-picking functions (no float accumulation), so cross-engine exact;
# ordering is made total with the o_orderkey tiebreak.
# ---------------------------------------------------------------------------


def _order_timeline(spark: SparkSession, sf_dir: str, cols) -> DataFrame:
    """(o_orderkey, o_custkey) plus the columns ``cols(w, wall)`` builds over
    the per-customer order timeline: ``w`` orders by (o_orderdate,
    o_orderkey), ``wall`` is its full partition frame.  Shared by the
    window-function siblings."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wall = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select("o_orderkey", "o_custkey", *cols(w, wall))


def rel_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _order_timeline(
        spark,
        sf_dir,
        lambda w, wall: [
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.dense_rank().over(w).alias("order_seq"),
            F.ntile(4).over(w).alias("quartile"),
            F.first("o_totalprice").over(wall).alias("first_price"),
            F.last("o_totalprice").over(wall).alias("last_price"),
        ],
    )


REL_WINDOW_SUITE_SQL = """\
SELECT o_orderkey, o_custkey,
       LAG(o_totalprice)  OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price,
       DENSE_RANK() OVER w AS order_seq,
       NTILE(4) OVER w AS quartile,
       FIRST_VALUE(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
       LAST_VALUE(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""


# ---------------------------------------------------------------------------
# rel_sessionize — batch sessionization: a session breaks after a 30-minute
# silence. lag + cumulative-sum-of-breaks is the one-shuffle shape (shuffle
# on user_id only); per-user state never leaves the executor. Timestamps
# compared at microsecond precision in both engines.
# ---------------------------------------------------------------------------

SESSION_GAP_MIN = 30


def rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    us = F.unix_micros(F.col("ts"))
    is_break = (
        F.when(us - F.lag(us).over(w) > gap_us, F.lit(1))
        .otherwise(F.lit(0))
    )
    sess = e.withColumn("session_id", F.sum(is_break).over(w))
    return sess.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


REL_SESSIONIZE_SQL = f"""\
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_MIN * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS is_break
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, SUM(is_break) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked)
SELECT user_id,
       CAST(MAX(session_id) + 1 AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id"""


register("rel_range_join", rel_range_join, REL_RANGE_JOIN_SQL)
register("rel_window_suite", rel_window_suite, REL_WINDOW_SUITE_SQL)
register("rel_sessionize", rel_sessionize, REL_SESSIONIZE_SQL)


# ---------------------------------------------------------------------------
# udf_udtf_chunks — Python user-defined TABLE function surface (the one
# Python-extension API not otherwise exercised: scalar pandas_udf,
# applyInPandas, GROUPED_AGG UDAF, mapInPandas, mapInArrow, and the Python
# DataSource all have registered queries; this adds SQL-invocable UDTFs).
# A generator UDTF expands each document into fixed-size token chunks via
# LATERAL join — the set-returning-function shape (flatten/expand/parse
# steps) that otherwise needs explode over a pre-built array.  The UDTF is
# Arrow-optimized (useArrow=True: batched transfer, not row pickling);
# chunk DIGESTS are computed JVM-side with md5 over the returned strings
# so the Python boundary carries each chunk exactly once.  Chunk size 48
# deliberately differs from pipe_token_chunks' 32 (that op certifies the
# pure-JVM sequence/slice formulation of the same semantics — together
# they pin that the UDTF path and the native path agree with the oracle).
# ---------------------------------------------------------------------------

UDTF_CHUNK = 48


def _chunk_udtf():
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="doc_id bigint, chunk_idx int, n_tokens int, chunk string",
        useArrow=True,
    )
    class ChunkTokens:
        def eval(self, doc_id, text, size):  # noqa: D102 — UDTF contract
            if text is None:
                return  # NULL text → no rows, matching the oracle's
                # string_split(NULL) chain (a crash here kills the query)
            toks = text.split(" ")
            for i in range(0, len(toks), size):
                part = toks[i : i + size]
                yield doc_id, i // size, len(part), " ".join(part)

    return ChunkTokens


def udf_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "documents", sf_dir).createOrReplaceTempView("documents")
    spark.udtf.register("chunk_tokens", _chunk_udtf())
    return spark.sql(f"""
        SELECT c.doc_id, c.chunk_idx, c.n_tokens, md5(c.chunk) AS chunk_md5
        FROM documents d,
             LATERAL chunk_tokens(d.doc_id, d.text, {UDTF_CHUNK}) c
    """)


UDF_UDTF_CHUNKS_SQL = f"""\
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
         CAST(CEIL(len(toks) / {UDTF_CHUNK}.0) AS INT) AS nc
  FROM t)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(len(toks[i * {UDTF_CHUNK} + 1 : (i + 1) * {UDTF_CHUNK}]) AS INT)
         AS n_tokens,
       md5(array_to_string(toks[i * {UDTF_CHUNK} + 1 : (i + 1) * {UDTF_CHUNK}], ' '))
         AS chunk_md5
FROM c, unnest(range(0, nc)) AS u(i)"""


register("udf_udtf_chunks", udf_udtf_chunks, UDF_UDTF_CHUNKS_SQL)


# ---------------------------------------------------------------------------
# rel_window_dist — the distribution-analytic window surface rel_window_suite
# doesn't cover: PERCENT_RANK, CUME_DIST, and NTH_VALUE over the per-customer
# order timeline.  percent_rank/cume_dist are integer-rank arithmetic with
# ONE final division — deterministic across engines (and both define the
# single-row partition as percent_rank 0); nth_value reads the 3rd order's
# price over the full frame.  Total ordering via the o_orderkey tiebreak,
# same contract as rel_window_suite.
# ---------------------------------------------------------------------------


def rel_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _order_timeline(
        spark,
        sf_dir,
        lambda w, wall: [
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.nth_value("o_totalprice", 3).over(wall).alias("third_price"),
        ],
    )


REL_WINDOW_DIST_SQL = """\
SELECT o_orderkey, o_custkey,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST()    OVER w AS cume,
       NTH_VALUE(o_totalprice, 3) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS third_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""


register("rel_window_dist", rel_window_dist, REL_WINDOW_DIST_SQL)


# ---------------------------------------------------------------------------
# udf_iter_series — the ITERATOR pandas_udf form (Iterator[pd.Series] →
# Iterator[pd.Series]), the one Python-UDF API variant the suite didn't yet
# cover.  Its point is amortized per-worker initialization: the generator
# body runs ONCE per partition (load a tokenizer/model/vocab there), then
# streams Arrow batches through the initialized state — the exact shape an
# LLM-pipeline uses to run a real tokenizer over 100 TB of documents
# without per-batch model loads.  Here the "expensive init" is a vocab
# lookup structure; the kernel counts each document's in-vocab tokens.
# Integer outputs, space-split tokens — exact cross-engine parity, same
# contract as udf_token_count_pandas.
# ---------------------------------------------------------------------------

_ITER_VOCAB = ("scan", "join", "merge", "sort", "filter")


def udf_iter_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE: `Iterator` and `pd` must be module-level imports — pyspark
    # resolves the stringified type hints (PEP 563) via the module globals
    # to pick the iterator-UDF evaluation mode.

    @F.pandas_udf("int")
    def vocab_hits(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one-time per-partition init (stands in for tokenizer/model load)
        vocab = frozenset(_ITER_VOCAB)
        for texts in batches:
            yield texts.map(
                lambda t: sum(1 for tok in t.split(" ") if tok in vocab)
            ).astype("int32")

    d = load_table(spark, "documents", sf_dir)
    return (
        d.withColumn("n_hits", vocab_hits("text"))
        .groupBy("source")
        .agg(
            F.sum("n_hits").cast("bigint").alias("total_hits"),
            F.max("n_hits").alias("max_hits"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


UDF_ITER_SERIES_SQL = f"""\
SELECT source,
       CAST(SUM(len(list_filter(string_split(text, ' '),
                                t -> t IN {_ITER_VOCAB}))) AS BIGINT) AS total_hits,
       CAST(MAX(len(list_filter(string_split(text, ' '),
                                t -> t IN {_ITER_VOCAB}))) AS INT)    AS max_hits,
       COUNT(*) AS n_docs
FROM documents GROUP BY source"""


register("udf_iter_series", udf_iter_series, UDF_ITER_SERIES_SQL)


# ---------------------------------------------------------------------------
# udf_arrow_scalar — the Arrow-optimized row UDF (@udf(useArrow=True),
# SPARK-40307): row-at-a-time author experience, Arrow-batched transport —
# the migration path for legacy @udf code that can't be vectorized, ~2-5×
# over pickled row UDFs.  Completes the Python-UDF matrix alongside
# pandas_udf (batch), iterator pandas_udf (amortized init), GROUPED_AGG,
# applyInPandas, mapInPandas, mapInArrow, and the UDTF.  Kernel: integer
# order-value bucketing with string labels (exact; mirrored in plain SQL).
# ---------------------------------------------------------------------------


def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.udf(returnType="string", useArrow=True)
    def price_band(total: float) -> str:
        cents = int(total * 100)  # exact: parquet doubles are 2dp decimals
        if cents < 10_000_00:
            return "small"
        if cents < 25_000_00:
            return "mid"
        return "large"

    o = load_table(spark, "orders", sf_dir)
    return (
        o.withColumn("band", price_band("o_totalprice"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


UDF_ARROW_SCALAR_SQL = """\
SELECT CASE WHEN CAST(o_totalprice * 100 AS BIGINT) < 1000000 THEN 'small'
            WHEN CAST(o_totalprice * 100 AS BIGINT) < 2500000 THEN 'mid'
            ELSE 'large' END AS band,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY 1"""


register("udf_arrow_scalar", udf_arrow_scalar, UDF_ARROW_SCALAR_SQL)


# ---------------------------------------------------------------------------
# udf_cogroup_latency — the cogrouped-map API (groupBy().cogroup().
# applyInPandas), the last Python extension surface in the matrix: both
# sides shuffle ONCE on the key and the kernel receives each key's two
# frames TOGETHER — the shape for per-key reconciliation that a join would
# explode (every click × every purchase) and separate groupbys would need
# a second shuffle to line up.  Kernel: per user, for each purchase find
# the latest click at-or-before it (merge over two sorted arrays, exact
# integer microseconds) and report conversion-latency stats.  The DuckDB
# oracle states the same lookup as the textbook correlated MAX — agreement
# checks the cogrouped merge.
# ---------------------------------------------------------------------------


def udf_cogroup_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    def kernel(clicks: pd.DataFrame, purchases: pd.DataFrame) -> pd.DataFrame:
        if purchases.empty:
            return pd.DataFrame(
                columns=["user_id", "n_purchases", "n_matched", "total_latency_us"]
            )
        uid = purchases["user_id"].iloc[0]
        cus = np.sort(clicks["us"].to_numpy()) if not clicks.empty else np.array([], dtype=np.int64)
        pus = purchases["us"].to_numpy()
        # latest click <= purchase: searchsorted on the sorted click times
        idx = np.searchsorted(cus, pus, side="right") - 1
        matched = idx >= 0
        lat = np.where(matched, pus - (cus[np.maximum(idx, 0)] if len(cus) else 0), 0)
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_purchases": [len(pus)],
                "n_matched": [int(matched.sum())],
                "total_latency_us": [int(lat[matched].sum()) if matched.any() else 0],
            }
        )

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    # keyed repartition at the session's parallelism on BOTH cogroup sides:
    # the cogrouped kernel's exchanges are otherwise AQE-coalesced by bytes
    # to one post-shuffle partition, so a single Python worker walks every
    # user's (clicks, purchases) pair sequentially (the ts_lttb finding —
    # user-specified partition counts are exempt from AQE coalescing, and
    # the cogroup reuses the exchanges: still one shuffle per side)
    par = spark.sparkContext.defaultParallelism
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "us")
        .repartition(par, "user_id")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "us")
        .repartition(par, "user_id")
    )
    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            kernel,
            "user_id bigint, n_purchases bigint, n_matched bigint, total_latency_us bigint",
        )
    )


UDF_COGROUP_LATENCY_SQL = """\
WITH p AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
m AS (
  SELECT p.user_id, p.us,
         (SELECT MAX(c.us) FROM c
          WHERE c.user_id = p.user_id AND c.us <= p.us) AS last_click
  FROM p)
SELECT user_id,
       COUNT(*) AS n_purchases,
       COUNT(last_click) AS n_matched,
       CAST(COALESCE(SUM(us - last_click), 0) AS BIGINT) AS total_latency_us
FROM m
GROUP BY user_id"""


register("udf_cogroup_latency", udf_cogroup_latency, UDF_COGROUP_LATENCY_SQL)


# ---------------------------------------------------------------------------
# rel_session_window — the BUILT-IN batch session_window aggregate (Spark's
# native merging-session operator, a different primitive from
# rel_sessionize's hand-rolled gaps-islands windows): groupBy(user_id,
# session_window(ts, gap)) merges events whose timestamp falls strictly
# before the previous event's ts + gap, and the session's end is
# last_event + gap.  The DuckDB oracle re-derives the same sessions from
# first principles (LAG-diff >= gap starts a new island; end = MAX(ts) +
# gap), so agreement certifies Spark's merge rule, not a shared
# formulation.  One shuffle on user_id; session state is bounded by the
# gap horizon — the same operator Structured Streaming uses for streaming
# sessionization (stream_session), here certified in batch mode.
# Timestamps are emitted as epoch micros (BIGINT) for hash safety.
# ---------------------------------------------------------------------------

SW_GAP_MIN = 120


def rel_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select("user_id", "ts", "value")
    sw = F.session_window("ts", f"{SW_GAP_MIN} minutes")
    return (
        e.groupBy("user_id", sw.alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            F.unix_micros("sw.end").alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


REL_SESSION_WINDOW_SQL = f"""\
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                   >= {SW_GAP_MIN * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT user_id,
       MIN(epoch_us(ts))                                   AS session_start_us,
       MAX(epoch_us(ts)) + {SW_GAP_MIN * 60 * 1_000_000}   AS session_end_us,
       COUNT(*)                                            AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)   AS sum_value
FROM sess
GROUP BY user_id, sid"""


register("rel_session_window", rel_session_window, REL_SESSION_WINDOW_SQL)
