"""Relational completeness operators (SURVEY.md §2.3 rows 1-7).

The reference has no joins, sorts, windows, set ops, or grouping sets — its
one operator family is the Phi scan (SURVEY.md §0). These queries declare the
full relational surface over the driver's TPC-H-ish tables, expressed so
Catalyst gets the cheap plan by construction:

- filters/projections sit directly on the parquet scans (pushdown + pruning);
- dimension tables (nation/region) are broadcast-hinted, fact-fact joins are
  left to AQE (sort-merge with runtime skew splitting);
- top-k per group is window row_number with a deterministic tiebreak, never a
  global sort;
- rollup/cube run in one shuffle over the pre-projected join.

Floating-point determinism policy: money aggregates are summed as
DECIMAL(18,2) (exact, order-independent — a double sum would differ between
Spark's partial-aggregation order and DuckDB's) and cast to DOUBLE at the
end, so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register


def _dec(col: str | Column, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def _dsum(col: str | Column, scale: int = 2) -> Column:
    return F.sum(_dec(col, scale)).cast("double")


# ---------------------------------------------------------------------------
# rel_pricing_summary — TPC-H Q1 shape: scan + conditional agg, one shuffle.
# ---------------------------------------------------------------------------


def rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (_dsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


REL_PRICING_SUMMARY_SQL = """\
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)       AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)  AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE)                                              AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


# ---------------------------------------------------------------------------
# rel_revenue_by_nation — 4-way join + agg (dims broadcast, facts AQE).
# ---------------------------------------------------------------------------


def rel_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.sum(revenue).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


REL_REVENUE_BY_NATION_SQL = """\
SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE)                        AS revenue,
       COUNT(*)                               AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name, CAST(year(o_orderdate) AS INT)"""


# ---------------------------------------------------------------------------
# rel_top_customers — top-3 per nation: window row_number, deterministic ties.
# ---------------------------------------------------------------------------


def rel_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    per_cust = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    w = W.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        per_cust.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("n_name", "c_name", "revenue", "rank")
    )


REL_TOP_CUSTOMERS_SQL = """\
WITH per_cust AS (
  SELECT n_name, c_custkey, c_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY n_name, c_custkey, c_name
), ranked AS (
  SELECT n_name, c_name, revenue,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey ASC) AS rank
  FROM per_cust
)
SELECT n_name, c_name, revenue, rank FROM ranked WHERE rank <= 3"""


# ---------------------------------------------------------------------------
# rel_late_ship_priority — left-semi join with a cross-table condition.
# ---------------------------------------------------------------------------


def rel_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    cond = (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate)
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


REL_LATE_SHIP_PRIORITY_SQL = """\
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority"""


# ---------------------------------------------------------------------------
# rel_idle_customers — left-anti join (NOT EXISTS).
# ---------------------------------------------------------------------------


def rel_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(F.year("o_orderdate") == 1998)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


REL_IDLE_CUSTOMERS_SQL = """\
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND year(o.o_orderdate) = 1998)
GROUP BY c_mktsegment"""


# ---------------------------------------------------------------------------
# rel_set_ops — INTERSECT / EXCEPT over yearly active customer sets.
# ---------------------------------------------------------------------------


def rel_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)

    def active(year: int) -> DataFrame:
        return o.filter(F.year("o_orderdate") == year).select("o_custkey").distinct()

    return active(1996).intersect(active(1997)).exceptAll(active(1998)).distinct()


REL_SET_OPS_SQL = """\
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998"""


# ---------------------------------------------------------------------------
# rel_set_ops_all — the MULTISET set operations (INTERSECT ALL / EXCEPT ALL):
# unlike rel_set_ops' distinct forms, multiplicities carry through — a
# customer ordering 3× in 1996 and 2× in 1997 appears min(3,2)=2 times in
# the intersection, and EXCEPT ALL subtracts occurrence counts instead of
# deleting the key.  Spark plans these as count-tagged aggregates +
# replication (no distinct collapse); the result is re-aggregated to
# (key, n_copies) so the driver hash is order-insensitive.
# ---------------------------------------------------------------------------


def rel_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)

    def year_keys(year: int) -> DataFrame:
        return o.filter(F.year("o_orderdate") == year).select("o_custkey")

    res = year_keys(1996).intersectAll(year_keys(1997)).exceptAll(year_keys(1998))
    return res.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_copies"))


REL_SET_OPS_ALL_SQL = """\
WITH res AS (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
)
SELECT o_custkey, COUNT(*) AS n_copies FROM res GROUP BY o_custkey"""


register("rel_set_ops_all", rel_set_ops_all, REL_SET_OPS_ALL_SQL)


# ---------------------------------------------------------------------------
# rel_rollup / rel_cube — grouping sets with GROUPING markers.
# ---------------------------------------------------------------------------


def rel_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").cast("int").alias("order_year"),
            _dec("l_extendedprice").alias("price"),
        )
    )
    return joined.rollup("n_name", "order_year").agg(
        F.sum("price").cast("double").alias("revenue"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.grouping("order_year").cast("int").alias("g_year"),
    )


REL_ROLLUP_REVENUE_SQL = """\
SELECT n_name, CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(GROUPING(n_name) AS INT)                      AS g_nation,
       CAST(GROUPING(CAST(year(o_orderdate) AS INT)) AS INT) AS g_year
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, CAST(year(o_orderdate) AS INT))"""


def rel_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    return l.cube("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


REL_CUBE_LINEITEM_SQL = """\
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*)                                               AS n_rows,
       CAST(GROUPING(l_returnflag) AS INT)                    AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT)                    AS g_status
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)"""


# ---------------------------------------------------------------------------
# rel_running_spend — ordered window (running sum per customer).
# ---------------------------------------------------------------------------


def rel_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


REL_RUNNING_SPEND_SQL = """\
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend
FROM orders"""


# ---------------------------------------------------------------------------
# func_json_extract — JSON path extraction on events.props.
# ---------------------------------------------------------------------------


def func_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("k").alias("avg_k"),
            F.sum(_dec("value", 6)).cast("double").alias("sum_value"),
        )
    )


FUNC_JSON_EXTRACT_SQL = """\
SELECT event_type,
       COUNT(*)                                              AS n_events,
       -- exact-sum division, not AVG(): DuckDB's integer AVG is an
       -- incremental accumulation whose last ulp depends on parallel
       -- accumulation order; SUM/COUNT is order-independent and matches
       -- Spark's Average bit-for-bit
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
         / COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)     AS sum_value
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
GROUP BY event_type"""


# ---------------------------------------------------------------------------
# func_daily_events — date_trunc + exact distinct.
# ---------------------------------------------------------------------------


def func_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return (
        e.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(_dec("value", 6)).cast("double").alias("sum_value"),
        )
    )


FUNC_DAILY_EVENTS_SQL = """\
SELECT CAST(CAST(ts AS DATE) AS VARCHAR)              AS day,
       COUNT(*)                                       AS n_events,
       COUNT(DISTINCT user_id)                        AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CAST(CAST(ts AS DATE) AS VARCHAR)"""


# ---------------------------------------------------------------------------
# rel_approx_distinct — HLL sketch checked by CONTRACT: Spark's HLL++ and
# DuckDB's HLL give different raw estimates by design, so the query outputs
# the exact NDV plus booleans asserting the sketch landed inside its error
# envelope. Both sketches are deterministic given the data (HLL register max
# is order-independent; the percentile sketch merge is deterministic on a
# fixed file layout), so the booleans are stable — the oracle emits the exact
# NDV and literal TRUE, which hash-matches iff the sketch honors its bound.
# rsd=0.02 against a 5% acceptance bound (2.5-sigma; measured max relative
# error ≤1.1% at sf0.001/0.01/0.1 on the deterministic driver data — and the
# sketch is deterministic given the data, so the boolean is stable); the
# median band (p45..p55) dwarfs the sketch's rank error at sf0.01.
# ---------------------------------------------------------------------------


def rel_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", "l_partkey", "l_quantity"
    )
    # Exact NDV and the HLL sketch share ONE aggregation over the DEDUPED
    # (flag, pk) pairs: HLL register maxima are duplicate-insensitive, so the
    # sketch over distinct pairs is value-identical to the sketch over raw
    # rows while hashing ~10× fewer values — and fusing it here (both plain
    # aggregates, no DISTINCT-mixed-with-sketch Expand: that shape measured
    # 18 s vs 1.0 s at sf0.1) removes the separate raw-scan HLL pass the
    # round-2/3 formulation paid. The percentile sketch keeps its own raw
    # scan (it needs every row).
    ndv = (
        l.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("__approx"),
        )
    )
    # accuracy=2000: rank error n/2000 ≈ 0.05 percentile points per group —
    # two orders inside the p45..p55 acceptance band, at half the default
    # sketch's buffer cost
    amed = l.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 2000)").alias("__amed")
    )
    sketches = ndv.join(F.broadcast(amed), "l_returnflag").withColumn(
        "ndv_within_5pct",
        F.abs(F.col("__approx") - F.col("exact_parts"))
        <= F.col("exact_parts") * 0.05,
    )
    # EXACT band bounds via the value distribution: l_quantity is
    # low-cardinality, so groupBy(flag, qty) map-side-combines to a ~150-row
    # table and frequency-weighted percentile() runs over THAT — identical
    # result to percentile() over the raw rows, without buffering millions of
    # values per group (the naive exact percentile is the one aggregate that
    # cannot stream; at 100 TB the distribution rewrite is the only option).
    dist = l.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("__freq")
    )
    bands = dist.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.45, __freq)").alias("__p45"),
        F.expr("percentile(l_quantity, 0.55, __freq)").alias("__p55"),
    )
    return (
        sketches.join(F.broadcast(bands), "l_returnflag")
        .withColumn(
            "median_in_band", F.col("__amed").between(F.col("__p45"), F.col("__p55"))
        )
        .select("l_returnflag", "exact_parts", "ndv_within_5pct", "median_in_band")
    )


REL_APPROX_DISTINCT_SQL = """\
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE                      AS ndv_within_5pct,
       TRUE                      AS median_in_band
FROM lineitem
GROUP BY l_returnflag"""


# ---------------------------------------------------------------------------
# rel_heavy_hitters — per-group frequent-items via the approx_top_k sketch,
# contract-checked like rel_approx_distinct: the exact top-5 count multiset
# per event_type is computed independently (two-phase groupBy, then a rank
# over the ALREADY-AGGREGATED counts table — window partitions hold |users|
# aggregate rows, not raw events), and the query asserts the sketch's top-5
# counts equal it. maxItemsTracked exceeds the key NDV, so the sketch counts
# are exact and the boolean is stable even when ties make the sketch's ITEM
# choice arbitrary — comparing count multisets, not items, is what makes a
# sketch with tie-freedom oracle-checkable. At 100 TB the sketch side is one
# pass with mergeable partial state; the exact side exists only as the check.
# ---------------------------------------------------------------------------

HH_K = 5


def rel_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir).select("event_type", "user_id")
    counts = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(F.desc("n"), "user_id")
    )
    to_csv = lambda arr: F.array_join(  # noqa: E731
        F.transform(F.sort_array(arr, asc=False), lambda x: x.cast("string")), ","
    )
    exact = (
        counts.withColumn("__rk", rk)
        .filter(F.col("__rk") <= HH_K)
        .groupBy("event_type")
        .agg(to_csv(F.collect_list("n")).alias("top_counts"))
    )
    sketch = e.groupBy("event_type").agg(
        F.expr(f"approx_top_k(user_id, {HH_K}, 100000)").alias("__tk")
    )
    sketch = sketch.select(
        "event_type", to_csv(F.expr("transform(__tk, x -> x.count)")).alias("__sk")
    )
    return exact.join(F.broadcast(sketch), "event_type").select(
        "event_type",
        "top_counts",
        (F.col("top_counts") == F.col("__sk")).alias("sketch_matches_exact"),
    )


REL_HEAVY_HITTERS_SQL = f"""\
WITH counts AS (
  SELECT event_type, user_id, COUNT(*) AS n FROM events GROUP BY 1, 2),
ranked AS (
  SELECT event_type, n,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rk
  FROM counts)
SELECT event_type,
       STRING_AGG(CAST(n AS VARCHAR), ',' ORDER BY n DESC) AS top_counts,
       TRUE AS sketch_matches_exact
FROM ranked WHERE rk <= {HH_K}
GROUP BY event_type"""


# ---------------------------------------------------------------------------
# rel_global_sort — total-order top-N. ORDER BY + LIMIT lets Catalyst plan
# TakeOrderedAndProject: per-partition top-N heaps merged at the driver —
# O(N·log k) with NO global sort/shuffle, the only total-order plan that
# survives 100 TB (a ranked window over one partition would not). The sort
# key is made unique (price, orderkey, linenumber) so the result set is
# deterministic across engines.
# ---------------------------------------------------------------------------

GLOBAL_SORT_LIMIT = 100


def rel_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(GLOBAL_SORT_LIMIT)
    )


REL_GLOBAL_SORT_SQL = f"""\
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT {GLOBAL_SORT_LIMIT}"""


# ---------------------------------------------------------------------------
# rel_grouping_sets — explicit GROUPING SETS beyond rollup/cube: an arbitrary
# set list (both single-attribute margins + grand total, which neither ROLLUP
# nor CUBE alone produces) with GROUPING() indicators disambiguating real
# NULLs from subtotal rows.
# ---------------------------------------------------------------------------


def rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT)  AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT)  AS g_status,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM __li_gs
        GROUP BY l_returnflag, l_linestatus
          GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                         (l_linestatus), ())
        """
    )


REL_GROUPING_SETS_SQL = """\
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT)  AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT)  AS g_status,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                        (l_linestatus), ())"""


# ---------------------------------------------------------------------------
# rel_latest_event — latest-record-per-key compaction (the CDC/upsert read
# pattern: many versions per key, keep the newest). row_number over
# (key → ts DESC) with a unique tiebreak; the window partitions on the
# (numerous, uniform) key space, so no hot partitions at scale — this is the
# standard "deduplicate a change stream into current state" plan.
# ---------------------------------------------------------------------------


def rel_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("latest_event_id"),
            F.unix_micros("ts").alias("latest_us"),
            "value",
        )
    )


REL_LATEST_EVENT_SQL = """\
WITH ranked AS (
  SELECT user_id, event_type, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_type,
       event_id     AS latest_event_id,
       epoch_us(ts) AS latest_us,
       value
FROM ranked WHERE rn = 1"""


# ---------------------------------------------------------------------------
# rel_histogram — equi-width value histogram in exact integer arithmetic:
# price → cents (ROUND before the bigint cast: Spark truncates, DuckDB
# rounds) → integer-DIV bucket → one map-side-combined groupBy on a tiny
# key space. The standard distribution profile at any scale.
# ---------------------------------------------------------------------------

HIST_BUCKET_CENTS = 500_000  # $5,000-wide buckets


def rel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (
        li.select(cents.alias("cents"))
        .select(F.expr(f"CAST(cents DIV {HIST_BUCKET_CENTS} AS INT)").alias("bucket"), "cents")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("total_cents"),
        )
    )


REL_HISTOGRAM_SQL = f"""\
WITH c AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem)
SELECT CAST(cents // {HIST_BUCKET_CENTS} AS INT) AS bucket,
       COUNT(*) AS n_items,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM c GROUP BY 1"""


# ---------------------------------------------------------------------------
# rel_skew_salted_agg — the salted two-phase aggregation run END-TO-END and
# oracle-checked against the plain GROUP BY: l_returnflag has only 3 values
# (a genuinely hot key space), so the salt spreads each key over 32 partial
# buckets before the tiny final merge. Proves the skew hatch is semantics-
# preserving, not just unit-tested.
# ---------------------------------------------------------------------------


def rel_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .skew import salted_groupby_agg

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_returnflag", F.col("l_quantity").cast("int").alias("qty")
    )
    return salted_groupby_agg(
        li,
        ["l_returnflag"],
        {
            "total_qty": ("sum", "qty"),
            "n_items": ("count", "qty"),
            "max_qty": ("max", "qty"),
        },
    )


REL_SKEW_SALTED_AGG_SQL = """\
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS total_qty,
       COUNT(*)                                     AS n_items,
       CAST(MAX(CAST(l_quantity AS INT)) AS INT)    AS max_qty
FROM lineitem
GROUP BY l_returnflag"""


# ---------------------------------------------------------------------------
# rel_skew_salted_join — the hot-key-split salted join hatch run END-TO-END
# and oracle-checked against the plain equi-join (the split must be invisible
# in the result). Scenario: a fact-to-dimension join where the dimension is
# too big to broadcast and the fact's key histogram is spiked — keys holding
# >= hot_threshold fact rows are salted (their dimension rows replicated once
# per salt bucket, fact rows scattered over the buckets) while every other
# key takes the plain shuffle join with zero replication. hot_threshold=5
# here so TPC-H orderkeys with 5-7 lineitems genuinely exercise the hot
# branch at driver scale alongside the cold branch.
# ---------------------------------------------------------------------------


def rel_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .skew import salted_join

    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("okey"), F.col("l_quantity").cast("int").alias("qty")
    )
    od = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(li, od, "okey", hot_threshold=5)
    return joined.groupBy("o_orderpriority").agg(
        F.sum("qty").alias("total_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


REL_SKEW_SALTED_JOIN_SQL = """\
SELECT o.o_orderpriority,
       CAST(SUM(CAST(l.l_quantity AS INT)) AS BIGINT) AS total_qty,
       COUNT(*)                                       AS n_items
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority"""


# ---------------------------------------------------------------------------
# rel_moving_window — event-time RANGE frame (trailing 1 hour) per user: the
# time-based moving aggregate ROWS frames can't express (gaps and ties in
# event time). Exact micro-unit integer sums keep the window arithmetic
# bit-identical in DuckDB; the window partitions on user_id (numerous keys).
# ---------------------------------------------------------------------------

TRAIL_US = 3_600_000_000  # 1 hour in microseconds


def rel_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        (F.col("value").cast("decimal(18,6)") * 1_000_000)
        .cast("bigint")
        .alias("micros"),
    )
    w = W.partitionBy("user_id").orderBy("us").rangeBetween(-TRAIL_US, 0)
    return ev.select(
        "user_id",
        "event_id",
        "us",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        (F.sum("micros").over(w) / 1e6).alias("value_last_hour"),
    )


REL_MOVING_WINDOW_SQL = f"""\
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micros
  FROM events)
SELECT user_id, event_id, us,
       COUNT(*) OVER w AS n_last_hour,
       SUM(micros) OVER w / 1000000.0 AS value_last_hour
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN {TRAIL_US} PRECEDING AND CURRENT ROW)"""


register("rel_global_sort", rel_global_sort, REL_GLOBAL_SORT_SQL)
register("rel_latest_event", rel_latest_event, REL_LATEST_EVENT_SQL)
# ---------------------------------------------------------------------------
# rel_rank_stats — distribution-rank window functions (percent_rank /
# cume_dist) the main window suite doesn't cover. The ordering key is made
# unique (acctbal, custkey) so peer groups are singletons — both functions
# become exact rank arithmetic, bit-identical across engines.
# ---------------------------------------------------------------------------


def rel_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    w = W.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


REL_RANK_STATS_SQL = """\
SELECT c_custkey, c_mktsegment,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST()    OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)"""


# ---------------------------------------------------------------------------
# rel_range_bucket_join — interval range join via time bucketing: every
# event falling in [anchor_ts, anchor_ts + 2h) of a campaign-anchor purchase
# event, aggregated per anchor. There is NO equi key, so the naive plan is a
# broadcast-nested-loop θ-join — quadratic work that dies at scale. The
# scale pattern: expand each interval to the 1-hour buckets it covers (≤3
# copies per anchor), bucket every event once, equi-join on the bucket
# (ordinary shuffle hash join, prunable, AQE-planned), then apply the exact
# range predicate as a post-filter. Each event bucket hits an interval's
# bucket list at most once, so no dedup step is needed. No broadcast hint:
# the anchor set is a fixed fraction of the corpus, so it scales with it.
# All arithmetic is exact integer micros; the money sum is decimal-exact.
# ---------------------------------------------------------------------------

RANGE_WINDOW_US = 7_200_000_000  # 2 h interval width
RANGE_BUCKET_US = 3_600_000_000  # 1 h buckets
ANCHOR_MOD = 23


def rel_range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.col("value").cast("decimal(18,6)").alias("val"),
    )
    anchors = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("event_id") % ANCHOR_MOD == 0)
    ).select(
        F.col("event_id").alias("anchor_id"),
        F.col("us").alias("start_us"),
        (F.col("us") + RANGE_WINDOW_US).alias("end_us"),
    )
    # `div` = exact integer division (a double-division + cast can be off by
    # one at bucket boundaries at epoch-micro magnitudes)
    expanded = anchors.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"start_us div {RANGE_BUCKET_US}"),
                F.expr(f"end_us div {RANGE_BUCKET_US}"),
            )
        ),
    )
    bucketed_ev = ev.withColumn("bucket", F.expr(f"us div {RANGE_BUCKET_US}"))
    return (
        bucketed_ev.join(expanded, "bucket")
        .filter((F.col("us") >= F.col("start_us")) & (F.col("us") < F.col("end_us")))
        .groupBy("anchor_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("val").cast("double").alias("sum_value"),
        )
    )


REL_RANGE_BUCKET_JOIN_SQL = f"""\
WITH e AS (
  SELECT event_id, event_type, epoch_us(ts) AS us,
         CAST(value AS DECIMAL(18,6)) AS val
  FROM events),
a AS (
  SELECT event_id AS anchor_id, us AS start_us, us + {RANGE_WINDOW_US} AS end_us
  FROM e WHERE event_type = 'purchase' AND event_id % {ANCHOR_MOD} = 0)
SELECT a.anchor_id, COUNT(*) AS n_events,
       CAST(SUM(e.val) AS DOUBLE) AS sum_value
FROM a JOIN e ON e.us >= a.start_us AND e.us < a.end_us
GROUP BY a.anchor_id"""


# ---------------------------------------------------------------------------
# rel_bucketed_join — fact-to-fact join: per-order line rollup joining
# lineitem to orders on the order key, over the plain parquet tables.
# ---------------------------------------------------------------------------


def rel_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("int")).cast("bigint").alias("total_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("gross_revenue"),
        )
    )


REL_BUCKETED_JOIN_SQL = """\
SELECT l.l_orderkey, o.o_orderpriority,
       COUNT(*)                                                AS n_items,
       CAST(SUM(CAST(l.l_quantity AS INT)) AS BIGINT)          AS total_qty,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                                                               AS gross_revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_orderkey, o.o_orderpriority"""


register("rel_skew_salted_agg", rel_skew_salted_agg, REL_SKEW_SALTED_AGG_SQL)
register("rel_skew_salted_join", rel_skew_salted_join, REL_SKEW_SALTED_JOIN_SQL)
register("rel_moving_window", rel_moving_window, REL_MOVING_WINDOW_SQL)
register("rel_rank_stats", rel_rank_stats, REL_RANK_STATS_SQL)
register("rel_range_bucket_join", rel_range_bucket_join, REL_RANGE_BUCKET_JOIN_SQL)
register("rel_bucketed_join", rel_bucketed_join, REL_BUCKETED_JOIN_SQL)
register("rel_grouping_sets", rel_grouping_sets, REL_GROUPING_SETS_SQL)
register("rel_histogram", rel_histogram, REL_HISTOGRAM_SQL)
register("rel_pricing_summary", rel_pricing_summary, REL_PRICING_SUMMARY_SQL)
register("rel_revenue_by_nation", rel_revenue_by_nation, REL_REVENUE_BY_NATION_SQL)
register("rel_top_customers", rel_top_customers, REL_TOP_CUSTOMERS_SQL)
register("rel_late_ship_priority", rel_late_ship_priority, REL_LATE_SHIP_PRIORITY_SQL)
register("rel_idle_customers", rel_idle_customers, REL_IDLE_CUSTOMERS_SQL)
register("rel_set_ops", rel_set_ops, REL_SET_OPS_SQL)
register("rel_rollup_revenue", rel_rollup_revenue, REL_ROLLUP_REVENUE_SQL)
register("rel_cube_lineitem", rel_cube_lineitem, REL_CUBE_LINEITEM_SQL)
register("rel_running_spend", rel_running_spend, REL_RUNNING_SPEND_SQL)
register("func_json_extract", func_json_extract, FUNC_JSON_EXTRACT_SQL)
register("func_daily_events", func_daily_events, FUNC_DAILY_EVENTS_SQL)
register("rel_approx_distinct", rel_approx_distinct, REL_APPROX_DISTINCT_SQL)
register("rel_heavy_hitters", rel_heavy_hitters, REL_HEAVY_HITTERS_SQL)
