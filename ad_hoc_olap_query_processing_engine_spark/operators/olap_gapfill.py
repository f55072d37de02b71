"""Remaining TPC-H report shapes (SURVEY.md §2.3 row 1, round-5 gap fill).

olap.py and olap_subqueries.py cover Q1/4/5/7/8/10/11/14/15/16/18/21/22
shapes; this module closes the rest of the classic TPC-H pattern catalogue,
each adapted to the driver schema (no partsupp table, so "supply catalog"
facts ride lineitem; no l_shipmode/commitdate, so lateness is shipdate vs
orderdate + interval).  The reference engine itself has none of these — its
single plan is the Phi scan over one `sales` relation
(/root/reference/src/QueryProcessor1.java:76-315) — but a warehouse user
replacing it expects the full report catalogue over the same star schema:

- rel_min_cost_supply       — Q2: per-part argmin supplier (correlated MIN)
- rel_shipping_priority     — Q3: top-10 unshipped-order revenue
- rel_forecast_revenue      — Q6: tight-range filter + single aggregate
- rel_product_profit        — Q9: profit by supplier nation × year
- rel_priority_lateness     — Q12: CASE-bucketed priority counts on a
                              lateness (interval-arithmetic) join
- rel_customer_distribution — Q13: histogram-of-counts over a LEFT join
- rel_small_qty_revenue     — Q17: per-part AVG scalar threshold, decorrelated
- rel_disjunctive_pred      — Q19: OR-of-ANDs pushdown across a join
- rel_part_dominant_supplier— Q20: nested aggregate share threshold

Scale notes (100 TB framing): Q2/Q17/Q20 are the correlated-subquery
family — every one is written decorrelated (per-group aggregate joined
back, or a window over the already-aggregated table), never a per-row
subquery.  Q2's supply catalog is a (partkey, suppkey) rollup of the fact
table — the shuffled width is the distinct pair count, not the fact rows —
and the filtered part dim is broadcast.  Q3 is a TakeOrdered top-k with a
full deterministic tie-break, so no global sort materializes.  Q6/Q19 are
pure scan-side predicates (pushed to parquet; Q19's OR-of-ANDs keeps the
partial brand/size pushdown).  Q13's LEFT join aggregates orders per
customer BEFORE joining (aggregate-then-outer-join), so the outer join
carries one row per customer, not one per order.  Q20 windows over the
(part, supplier) rollup — two map-side-combining aggregates over the same
shuffle key prefix.

Determinism: money math is exact DECIMAL summed then cast DOUBLE once
(accumulation-order-proof); quantity sums/averages are exact because
l_quantity is integer-valued (sums of integers < 2^53 are exact in binary
doubles in any order); share thresholds are written multiplied out
(``2 * supp_qty > total_qty``) so no engine ever divides; argmin picks are
ROW_NUMBER with a full (value, key) tie-break.  DuckDB oracles keep the
textbook *correlated* forms where the classic query has one (Q2, Q17, Q20)
— agreement checks the decorrelation, not just the arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .iterutil import generation
from .registry import register
from .relational import _dec

_REV = "__rev"


def _with_revenue(l: DataFrame) -> DataFrame:
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return l.withColumn(_REV, rev)


# ---------------------------------------------------------------------------
# rel_min_cost_supply — TPC-H Q2 shape: for each LARGE mid-size part, the
# EUROPE supplier observed offering the minimum unit price.  The supply
# catalog (min unit price per part×supplier) is a rollup of lineitem, so the
# correlated-MIN runs over the *aggregated* pair table; the qualifying part
# dim is broadcast.  Ties on unit cost break to the lowest suppkey
# (ROW_NUMBER, fully deterministic).
# ---------------------------------------------------------------------------


def rel_min_cost_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)

    supply = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    euro = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(r.r_name == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("supp_nation"))
    )
    parts = p.filter((p.p_type == "LARGE") & p.p_size.between(10, 20)).select(
        "p_partkey", "p_name"
    )
    cand = supply.join(euro, supply.l_suppkey == euro.s_suppkey).join(
        F.broadcast(parts), supply.l_partkey == parts.p_partkey
    )
    w = W.partitionBy("p_partkey").orderBy(F.asc("unit_cost"), F.asc("s_suppkey"))
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("p_partkey", "p_name", "s_name", "supp_nation", "s_acctbal", "unit_cost")
    )


REL_MIN_COST_SUPPLY_SQL = """\
WITH supply AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
), euro AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name AS supp_nation
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT p_partkey, p_name, s_name, supp_nation, s_acctbal, unit_cost
FROM supply su
JOIN euro e ON su.l_suppkey = e.s_suppkey
JOIN part p ON su.l_partkey = p.p_partkey
WHERE p.p_type = 'LARGE' AND p.p_size BETWEEN 10 AND 20
  AND su.unit_cost = (
    SELECT MIN(s2.unit_cost)
    FROM supply s2 JOIN euro e2 ON s2.l_suppkey = e2.s_suppkey
    WHERE s2.l_partkey = su.l_partkey)
QUALIFY ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY e.s_suppkey) = 1"""


# ---------------------------------------------------------------------------
# rel_shipping_priority — TPC-H Q3 shape: revenue of orders placed before but
# shipped after a cutoff, for one market segment; top 10.  The limit carries
# a FULL deterministic ordering (revenue DESC, orderdate, orderkey) so the
# boundary row can never flip — and Spark plans it as TakeOrderedAndProject
# (heap per partition + driver merge), never a global sort.
# ---------------------------------------------------------------------------

_Q3_CUTOFF = "1997-06-15"


def rel_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _with_revenue(load_table(spark, "lineitem", sf_dir))
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    return (
        l.filter(F.col("l_shipdate") > F.lit(_Q3_CUTOFF).cast("timestamp"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit(_Q3_CUTOFF).cast("timestamp")),
            l.l_orderkey == o.o_orderkey,
        )
        .join(c.filter(c.c_mktsegment == "BUILDING"), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_REV).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


REL_SHIPPING_PRIORITY_SQL = f"""\
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_Q3_CUTOFF}'
  AND l_shipdate  > TIMESTAMP '{_Q3_CUTOFF}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10"""


# ---------------------------------------------------------------------------
# rel_forecast_revenue — TPC-H Q6 shape: what-if revenue from dropping small
# discounts.  Pure scan-side predicate (every conjunct reaches the parquet
# scan as a pushed filter — pinned in test_plans.py) + one global aggregate;
# the discount domain is a 0.01 grid so the BETWEEN endpoints are exact
# stored doubles compared to literal-parsed identical doubles.
# ---------------------------------------------------------------------------


def rel_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("forecast_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


REL_FORECAST_REVENUE_SQL = """\
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS forecast_revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 25"""


# ---------------------------------------------------------------------------
# rel_product_profit — TPC-H Q9 shape: profit on widget-named parts by
# supplier nation and order year.  Cost rides p_retailprice × quantity (no
# partsupp in this schema).  All money math exact decimal until the final
# cast; part (LIKE-filtered) and nation broadcast.
# ---------------------------------------------------------------------------


def rel_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_name").like("%widget%"))

    profit = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - _dec("l_discount")
    ) - _dec("p_retailprice") * _dec("l_quantity")
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_retailprice")), l.l_partkey == p.p_partkey)
        .join(o.select("o_orderkey", "o_orderdate"), l.l_orderkey == F.col("o_orderkey"))
        .join(s.select("s_suppkey", "s_nationkey"), l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


REL_PRODUCT_PROFIT_SQL = """\
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                - CAST(p_retailprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# rel_priority_lateness — TPC-H Q12 shape: high/low-priority order counts
# over late shipments, bucketed by return flag (the schema has no shipmode).
# Late = shipped more than 60 days after order date, written as interval
# arithmetic on both sides (date_add would truncate the timestamp and
# diverge — same hazard documented at olap_subqueries.py rel_waiting_
# suppliers).  CASE-sum conditional aggregation, single shuffle.
# ---------------------------------------------------------------------------


def rel_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
               l.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


REL_PRIORITY_LATENESS_SQL = """\
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag"""


# ---------------------------------------------------------------------------
# rel_customer_distribution — TPC-H Q13 shape: how many customers placed
# exactly N qualifying orders (histogram of counts, zero bucket included).
# Orders are aggregated per customer BEFORE the outer join, so the LEFT join
# carries one row per customer — at 100 TB the outer join's build side is
# the post-reduction count table, never the raw orders.
# ---------------------------------------------------------------------------


def rel_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_cust = (
        o.filter(F.col("o_orderstatus") != "P")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("__n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


REL_CUSTOMER_DISTRIBUTION_SQL = """\
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus <> 'P'
  GROUP BY c_custkey
)
GROUP BY c_count"""


# ---------------------------------------------------------------------------
# rel_small_qty_revenue — TPC-H Q17 shape: revenue from orders of less than
# a fifth of the part's average quantity, per brand.  The correlated AVG is
# decorrelated into one per-part aggregate joined back to the fact table;
# the average is exact (integer-valued quantities sum exactly in doubles,
# one final division) so the 0.2× threshold is bit-identical across engines.
# ---------------------------------------------------------------------------


def rel_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "SMALL")
    part_avg = (
        l.groupBy(F.col("l_partkey").alias("__avg_partkey"))
        .agg(F.avg("l_quantity").alias("__avg_qty"))
    )
    return (
        l.join(F.broadcast(p.select("p_partkey", "p_brand")), l.l_partkey == p.p_partkey)
        .join(part_avg, l.l_partkey == F.col("__avg_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("__avg_qty"))
        .groupBy("p_brand")
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly")
        )
    )


REL_SMALL_QTY_REVENUE_SQL = """\
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l
JOIN part ON l.l_partkey = p_partkey
WHERE p_type = 'SMALL'
  AND l_quantity < 0.2 * (
    SELECT AVG(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
GROUP BY p_brand"""


# ---------------------------------------------------------------------------
# rel_disjunctive_pred — TPC-H Q19 shape: revenue under an OR of brand ×
# size × quantity conjunctions.  The brand/size arms push to the part scan
# and the quantity bounds to the lineitem scan as a partial disjunction
# (qty BETWEEN 1 AND 40 covers all three arms); the exact OR evaluates after
# the broadcast join.
# ---------------------------------------------------------------------------


def rel_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _with_revenue(load_table(spark, "lineitem", sf_dir))
    p = load_table(spark, "part", sf_dir)
    arm = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(5, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(10, 40))
    )
    parts = p.filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") & F.col("p_size").between(1, 50)
    ).select("p_partkey", "p_brand", "p_size")
    return (
        l.filter(F.col("l_quantity").between(1, 40))
        .join(F.broadcast(parts), l.l_partkey == F.col("p_partkey"))
        .filter(arm)
        .groupBy("p_brand")
        .agg(
            F.sum(_REV).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


REL_DISJUNCTIVE_PRED_SQL = """\
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 5 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 10 AND 40)
GROUP BY p_brand"""


# ---------------------------------------------------------------------------
# rel_part_dominant_supplier — TPC-H Q20 shape: suppliers who shipped more
# than half of a PROMO part's 1997 volume (the availqty > ½·sum correlation,
# re-expressed over shipment facts).  Both aggregation levels reduce the
# fact table before any correlation: the window total runs over the already
# aggregated (part, supplier) rollup, and the share test is multiplied out
# (2·supp > total) over exact integer-valued sums — no division, no fp
# boundary.  Output is the per-supplier count of dominated parts.
# ---------------------------------------------------------------------------


def rel_part_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "PROMO")
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)

    pair = (
        l.filter(F.year("l_shipdate") == 1997)
        .join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("__supp_qty"))
    )
    total = F.sum("__supp_qty").over(W.partitionBy("l_partkey"))
    dominant = pair.withColumn("__total", total).filter(
        2 * F.col("__supp_qty") > F.col("__total")
    )
    return (
        dominant.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            F.col("n_name").alias("supp_nation"),
            F.col("n_dominated_parts"),
        )
    )


REL_PART_DOMINANT_SUPPLIER_SQL = """\
WITH pair AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO' AND year(l_shipdate) = 1997
  GROUP BY 1, 2
)
SELECT s_suppkey, s_name, n_name AS supp_nation,
       COUNT(*) AS n_dominated_parts
FROM pair pr
JOIN supplier ON pr.l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE 2 * pr.supp_qty > (
  SELECT SUM(p2.supp_qty) FROM pair p2 WHERE p2.l_partkey = pr.l_partkey)
GROUP BY 1, 2, 3"""


register("rel_min_cost_supply", rel_min_cost_supply, REL_MIN_COST_SUPPLY_SQL)
register("rel_shipping_priority", rel_shipping_priority, REL_SHIPPING_PRIORITY_SQL)
register("rel_forecast_revenue", rel_forecast_revenue, REL_FORECAST_REVENUE_SQL)
register("rel_product_profit", rel_product_profit, REL_PRODUCT_PROFIT_SQL)
register("rel_priority_lateness", rel_priority_lateness, REL_PRIORITY_LATENESS_SQL)
register("rel_customer_distribution", rel_customer_distribution, REL_CUSTOMER_DISTRIBUTION_SQL)
register("rel_small_qty_revenue", rel_small_qty_revenue, REL_SMALL_QTY_REVENUE_SQL)
register("rel_disjunctive_pred", rel_disjunctive_pred, REL_DISJUNCTIVE_PRED_SQL)
register("rel_part_dominant_supplier", rel_part_dominant_supplier, REL_PART_DOMINANT_SUPPLIER_SQL)


# ---------------------------------------------------------------------------
# rel_count_distinct_multi — several COUNT(DISTINCT ...) over different
# columns in ONE aggregate.  Catalyst plans this with an Expand node (one
# row replica per distinct column) feeding a two-phase distinct aggregate —
# a genuinely different physical shape from every other aggregate in the
# repo, and the scalable alternative to self-joining per distinct column.
# Monthly buyer/supplier/part reach over the joined facts.
# ---------------------------------------------------------------------------


def rel_count_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    return (
        l.join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
               l.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


REL_COUNT_DISTINCT_MULTI_SQL = """\
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       COUNT(DISTINCT o_custkey) AS n_buyers,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*)                  AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1"""


# ---------------------------------------------------------------------------
# rel_incremental_agg — incremental view maintenance by partial-aggregate
# merge: the pre-cutoff facts exist only as a per-(month, returnflag)
# partial-state table (sum/count/min/max — all mergeable), the post-cutoff
# delta arrives as raw rows, and the report MERGES the two (sum+sum,
# count+count, min(min), max(max)) instead of re-scanning history.  This is
# the 100 TB warehouse refresh pattern: yesterday's rollup + today's
# partition, never a full recompute.  AVG is derived sum/count at the end
# (never averaged averages).  The oracle IS the full recompute over all
# facts — agreement proves the merge algebra is lossless.
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "1999-01-01"


def rel_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    cut = F.lit(_IVM_CUTOFF).cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
            "l_returnflag",
        ).agg(
            F.sum(_dec("l_extendedprice")).alias("__sum"),
            F.count(F.lit(1)).alias("__cnt"),
            F.min("l_quantity").alias("__min"),
            F.max("l_quantity").alias("__max"),
        )

    base = partials(l.filter(F.col("l_shipdate") < cut))   # the stored rollup
    delta = partials(l.filter(F.col("l_shipdate") >= cut))  # today's partition
    merged = (
        base.unionByName(delta)
        .groupBy("month", "l_returnflag")
        .agg(
            F.sum("__sum").alias("__sum"),
            F.sum("__cnt").alias("n_items"),
            F.min("__min").alias("min_qty"),
            F.max("__max").alias("max_qty"),
        )
    )
    return merged.select(
        "month",
        "l_returnflag",
        F.col("__sum").cast("double").alias("sum_price"),
        "n_items",
        (F.col("__sum").cast("double") / F.col("n_items").cast("double")).alias("avg_price"),
        "min_qty",
        "max_qty",
    )


REL_INCREMENTAL_AGG_SQL = """\
SELECT strftime(l_shipdate, '%Y-%m') AS month,
       l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_price,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem
GROUP BY 1, 2"""


register("rel_count_distinct_multi", rel_count_distinct_multi, REL_COUNT_DISTINCT_MULTI_SQL)
register("rel_incremental_agg", rel_incremental_agg, REL_INCREMENTAL_AGG_SQL)


# ---------------------------------------------------------------------------
# rel_notin_null — three-valued NOT IN semantics, the classic SQL trap: when
# the subquery's list contains a NULL, `x NOT IN (list)` is never TRUE (it
# is NULL for every non-matching x), so ALL outer rows drop.  A plain
# left_anti join silently implements NOT EXISTS instead; Spark plans the
# real thing as a null-aware anti join.  The query runs BOTH variants over
# the same exclusion list — null-free, and the same list with a NULL
# injected for suppkeys ≡ 0 (mod 7) — labeled in one union: at scale
# factors where a multiple of 21 exists the with_null variant contributes
# ZERO rows (the trap firing is part of the hashed result), while the
# null-free variant keeps the NOT-EXISTS-equivalent counts.  DuckDB
# evaluates the identical standard semantics independently.
# ---------------------------------------------------------------------------

_NOTIN_BODY = """\
SELECT 'null_free' AS variant, c_mktsegment, COUNT(*) AS n_customers
FROM {cust}
WHERE c_nationkey NOT IN (
  SELECT s_nationkey FROM {supp} WHERE s_suppkey % 3 = 0)
GROUP BY c_mktsegment
UNION ALL
SELECT 'with_null' AS variant, c_mktsegment, COUNT(*) AS n_customers
FROM {cust}
WHERE c_nationkey NOT IN (
  SELECT CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_nationkey END
  FROM {supp} WHERE s_suppkey % 3 = 0)
GROUP BY c_mktsegment"""


def rel_notin_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spark.sql's DataFrame templating keeps this pure — no temp views that
    # would outlive the call or collide across concurrently built queries.
    return spark.sql(
        _NOTIN_BODY,
        cust=load_table(spark, "customer", sf_dir),
        supp=load_table(spark, "supplier", sf_dir),
    )


REL_NOTIN_NULL_SQL = _NOTIN_BODY.format(cust="customer", supp="supplier")


register("rel_notin_null", rel_notin_null, REL_NOTIN_NULL_SQL)


# ---------------------------------------------------------------------------
# rel_yoy_growth — year-over-year revenue per customer segment: LAG over the
# (segment, year) aggregate, growth in exact basis points ((cur − prev) ·
# 10⁴ DIV prev on scale-4 fixed-point integers — the revenue decimals have
# scale 4, so ×10⁴ is exactly integral (×100 would leave a fraction whose
# BIGINT cast truncates in Spark but rounds in DuckDB); no float ratio, so
# the figure hash-matches bit-for-bit).  The windows run over the post-aggregation
# table (|segments| × |years| rows), never the facts.
# ---------------------------------------------------------------------------


def rel_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _with_revenue(load_table(spark, "lineitem", sf_dir))
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    yearly = (
        l.join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
               l.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", F.year("o_orderdate").cast("int").alias("year"))
        .agg((F.sum(_REV) * 10000).cast("bigint").alias("__cents"))
    )
    return yearly.select(
        "c_mktsegment",
        "year",
        (F.col("__cents").cast("double") / 10000).alias("revenue"),
        F.expr("CAST(((__cents - LAG(__cents) OVER "
               "(PARTITION BY c_mktsegment ORDER BY year)) * 10000) "
               "DIV LAG(__cents) OVER (PARTITION BY c_mktsegment ORDER BY year) "
               "AS BIGINT)").alias("growth_bps"),
    )


REL_YOY_GROWTH_SQL = """\
WITH yearly AS (
  SELECT c_mktsegment,
         CAST(year(o_orderdate) AS INT) AS year,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              * 10000 AS BIGINT) AS cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2)
SELECT c_mktsegment, year,
       CAST(cents AS DOUBLE) / 10000 AS revenue,
       CAST(((cents - LAG(cents) OVER w) * 10000) // LAG(cents) OVER w AS BIGINT)
         AS growth_bps
FROM yearly
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY year)"""


# ---------------------------------------------------------------------------
# rel_pareto_coverage — the 80/20 concentration report: rank customers by
# revenue, accumulate exact scale-4 fixed-point integers, and find how few
# customers cover 80% of total.  The global cumulative sum is rebuilt
# PARTITION-SAFELY (value-range buckets → local cumsum → broadcast offsets,
# the rel_decile_spend technique) — a bare ORDER BY window would sort every
# customer in one task; the 80% test is multiplied out (5·cum ≥ 4·total)
# so no division happens before the final double cast.  The DuckDB oracle
# keeps the single-window textbook form — agreement checks the
# decomposition.
# ---------------------------------------------------------------------------


PARETO_BUCKETS = 32


def rel_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _with_revenue(load_table(spark, "lineitem", sf_dir))
    o = load_table(spark, "orders", sf_dir)
    # per_cust feeds bounds, the bucketed cumsum AND the bucket sizes (and
    # sizes feeds both sides of the offsets join) — without a checkpoint the
    # fact join+aggregate executed ~4× (12 parquet scans, 13 exchanges, zero
    # reuse; round-14 profile).  Checkpoint the customer-sized frame once:
    # at fact scale that is ONE fact join instead of four (guide §2.4).
    with generation("rel_pareto_coverage") as pins:
        per_cust = (
            l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == F.col("o_orderkey"))
            .groupBy("o_custkey")
            .agg((F.sum(_REV) * 10000).cast("bigint").alias("__cents"))
            .transform(pins.checkpoint, eager=False)
        )
        # partition-safe global cumsum (same technique as rel_decile_spend's
        # global NTILE): value-range buckets → per-bucket local rank/cumsum →
        # broadcast count/sum offsets of all HIGHER-revenue buckets. No
        # unpartitioned window ever materializes, so the plan survives a
        # customer dimension of any size.
        bounds = per_cust.agg(
            F.min("__cents").alias("__lo"),
            F.max("__cents").alias("__hi"),
            F.count(F.lit(1)).alias("__n"),
            F.sum("__cents").alias("__tot"),
        )
        b = per_cust.crossJoin(F.broadcast(bounds)).withColumn(
            "__bkt",
            F.width_bucket(
                F.col("__cents"), F.col("__lo"), F.col("__hi") + F.lit(1), PARETO_BUCKETS
            ),
        )
        wb = W.partitionBy("__bkt").orderBy(F.desc("__cents"), F.asc("o_custkey"))
        local = b.select(
            "__bkt",
            "__n",
            "__tot",
            F.row_number().over(wb).alias("__rk_l"),
            F.sum("__cents").over(wb.rowsBetween(W.unboundedPreceding, 0)).alias("__cum_l"),
        )
        # ≤ PARETO_BUCKETS rows, read by both sides of the offsets join
        sizes = b.groupBy("__bkt").agg(
            F.count(F.lit(1)).alias("__sz"), F.sum("__cents").alias("__bsum")
        ).transform(pins.checkpoint, eager=False)
    higher = sizes.select(
        F.col("__bkt").alias("__hb"), F.col("__sz").alias("__hsz"), F.col("__bsum").alias("__hbs")
    )
    offsets = (
        sizes.join(F.broadcast(higher), F.col("__hb") > F.col("__bkt"), "left")
        .groupBy("__bkt")
        .agg(
            F.coalesce(F.sum("__hsz"), F.lit(0)).alias("__coff"),
            F.coalesce(F.sum("__hbs"), F.lit(0)).alias("__soff"),
        )
    )
    ranked = local.join(F.broadcast(offsets), "__bkt").select(
        (F.col("__coff") + F.col("__rk_l")).alias("__rk"),
        (F.col("__soff") + F.col("__cum_l")).alias("__cum"),
        "__tot",
        "__n",
    )
    covered = ranked.filter(5 * F.col("__cum") >= 4 * F.col("__tot"))
    return covered.agg(
        F.min("__rk").alias("customers_for_80pct"),
        F.min("__n").alias("n_customers"),
        (F.min("__rk").cast("double") / F.min("__n").cast("double")).alias(
            "pareto_fraction"
        ),
        (F.min("__tot").cast("double") / 10000).alias("total_revenue"),
    )


REL_PARETO_COVERAGE_SQL = """\
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              * 10000 AS BIGINT) AS cents
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey),
ranked AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey ASC) AS rk,
         SUM(cents) OVER (ORDER BY cents DESC, o_custkey ASC
                          ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cents) OVER () AS tot,
         COUNT(*) OVER () AS n
  FROM per_cust)
SELECT MIN(rk) AS customers_for_80pct,
       MIN(n)  AS n_customers,
       CAST(MIN(rk) AS DOUBLE) / CAST(MIN(n) AS DOUBLE) AS pareto_fraction,
       CAST(MIN(tot) AS DOUBLE) / 10000 AS total_revenue
FROM ranked
WHERE 5 * cum >= 4 * tot"""


register("rel_yoy_growth", rel_yoy_growth, REL_YOY_GROWTH_SQL)
register("rel_pareto_coverage", rel_pareto_coverage, REL_PARETO_COVERAGE_SQL)


# ---------------------------------------------------------------------------
# rel_order_lifecycle — fulfillment-latency profile per order priority: days
# from order date to the order's LAST shipment, reduced per order first
# (max shipdate — so the lifecycle is an order-level fact, not a lineitem
# average), then profiled per priority.  Day diffs are exact integers
# (timestamp DIV 86400 boundaries in both engines); the mean is one
# division over exact sums.
# ---------------------------------------------------------------------------


def rel_order_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_order = (
        l.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("__last_ship"))
        .join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderpriority",
            (
                F.floor(F.unix_micros("__last_ship") / 86_400_000_000)
                - F.floor(F.unix_micros("o_orderdate") / 86_400_000_000)
            ).cast("bigint").alias("__days"),
        )
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("__days").alias("min_days"),
        F.max("__days").alias("max_days"),
        (F.sum("__days").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_days"
        ),
    )


REL_ORDER_LIFECYCLE_SQL = """\
WITH per_order AS (
  SELECT o_orderpriority,
         CAST(FLOOR(epoch_us(MAX(l_shipdate)) / 86400000000)
              - FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS days
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderdate, o_orderpriority)
SELECT o_orderpriority,
       COUNT(*)  AS n_orders,
       MIN(days) AS min_days,
       MAX(days) AS max_days,
       CAST(SUM(days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_days
FROM per_order
GROUP BY o_orderpriority"""


register("rel_order_lifecycle", rel_order_lifecycle, REL_ORDER_LIFECYCLE_SQL)


# ---------------------------------------------------------------------------
# rel_nation_concentration — per-group Pareto: within every nation, how many
# distinct parts make up half the nation's revenue, plus the top part's
# share in exact basis points.  Unlike the global rel_pareto_coverage this
# cumsum partitions NATURALLY by nation — the window key IS the group — so
# no bucket decomposition is needed; the concentration test is multiplied
# out (2·cum ≥ total) and the share is integer DIV on scale-4 fixed point.
# ---------------------------------------------------------------------------


def rel_nation_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _with_revenue(load_table(spark, "lineitem", sf_dir))
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    per_part = (
        l.join(s.select("s_suppkey", "s_nationkey"), l.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "l_partkey")
        .agg((F.sum(_REV) * 10000).cast("bigint").alias("__fp"))
    )
    w = W.partitionBy("nation").orderBy(F.desc("__fp"), F.asc("l_partkey"))
    wall = W.partitionBy("nation")
    ranked = per_part.select(
        "nation",
        F.row_number().over(w).alias("__rk"),
        F.sum("__fp").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("__cum"),
        F.sum("__fp").over(wall).alias("__tot"),
        F.max("__fp").over(wall).alias("__top"),
        F.count(F.lit(1)).over(wall).alias("__n"),
    )
    covered = ranked.filter(2 * F.col("__cum") >= F.col("__tot"))
    return covered.groupBy("nation").agg(
        F.min("__rk").alias("parts_for_half"),
        F.min("__n").alias("n_parts"),
        F.expr("CAST((MIN(__top) * 10000) DIV MIN(__tot) AS BIGINT)").alias(
            "top_part_share_bps"
        ),
    )


REL_NATION_CONCENTRATION_SQL = """\
WITH per_part AS (
  SELECT n_name AS nation, l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              * 10000 AS BIGINT) AS fp
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY 1, 2),
ranked AS (
  SELECT nation,
         ROW_NUMBER() OVER w AS rk,
         SUM(fp) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(fp) OVER (PARTITION BY nation) AS tot,
         MAX(fp) OVER (PARTITION BY nation) AS top,
         COUNT(*) OVER (PARTITION BY nation) AS n
  FROM per_part
  WINDOW w AS (PARTITION BY nation ORDER BY fp DESC, l_partkey ASC))
SELECT nation,
       MIN(rk) AS parts_for_half,
       MIN(n)  AS n_parts,
       CAST((MIN(top) * 10000) // MIN(tot) AS BIGINT) AS top_part_share_bps
FROM ranked
WHERE 2 * cum >= tot
GROUP BY nation"""


register("rel_nation_concentration", rel_nation_concentration, REL_NATION_CONCENTRATION_SQL)


# ---------------------------------------------------------------------------
# rel_basket_affinity — market-basket association rules over order baskets:
# support, confidence, and lift for co-purchased part pairs, top-20 by
# pair count.  The pair table comes from the order-level item-set self-join
# (dedup to one row per (order, part) first — multiplicity is not
# co-occurrence), per-part supports from the same deduped table, and every
# ratio ships in exact fixed point: conf_bps = cnt_ab·10⁴ DIV cnt_a,
# lift_milli = cnt_ab·n_orders·10³ DIV (cnt_a·cnt_b) — integer arithmetic
# end-to-end, no float ratios to drift.  The self-join shuffles once on
# the order key and pair cardinality is bounded by basket sizes (≤ k² per
# order), the standard a-priori counting shape; int64 headroom: cnt_ab ·
# n_orders · 10³ stays under 2⁶³ up to ~10⁹-order corpora with 10⁵-deep
# supports (beyond that, decimal widening).
# ---------------------------------------------------------------------------

BASKET_TOP_K = 20


def rel_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    # items is read FOUR times (basket count, per-part supports, both self-
    # join sides) and Catalyst performs no cross-plan CSE — the executed
    # plan evaluated the scan+dedup pipeline once per reference (5 parquet
    # scans, 9 exchanges, zero reuse; round-14 profile).  Checkpoint it
    # once: at fact scale that is ONE scan + ONE dedup shuffle instead of
    # four (guide §2.4), and the ok-partitioned layout survives into the
    # self-join.  supports feeds both rule sides (the graph-deg precedent).
    with generation("rel_basket_affinity") as pins:
        items = (
            l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
            .repartition("ok")
            .dropDuplicates(["ok", "pk"])
            .transform(pins.checkpoint, eager=False)
        )
        n_orders = items.select(F.countDistinct("ok").alias("__n"))
        supports = (
            items.groupBy("pk")
            .agg(F.count(F.lit(1)).alias("__sup"))
            .transform(pins.checkpoint, eager=False)
        )
    i2 = items.select("ok", F.col("pk").alias("pk2"))
    pairs = (
        items.join(i2, "ok")
        .filter(F.col("pk") < F.col("pk2"))
        .groupBy(F.col("pk").alias("part_a"), F.col("pk2").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("pair_orders"))
    )
    sa = supports.select(F.col("pk").alias("part_a"), F.col("__sup").alias("__sa"))
    sb = supports.select(F.col("pk").alias("part_b"), F.col("__sup").alias("__sb"))
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            F.expr("CAST((pair_orders * 10000) DIV __sa AS BIGINT)").alias(
                "conf_a_to_b_bps"
            ),
            F.expr(
                "CAST((pair_orders * __n * 1000) DIV (__sa * __sb) AS BIGINT)"
            ).alias("lift_milli"),
        )
        .orderBy(F.desc("pair_orders"), F.asc("part_a"), F.asc("part_b"))
        .limit(BASKET_TOP_K)
    )


REL_BASKET_AFFINITY_SQL = f"""\
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
sup AS (SELECT pk, COUNT(*) AS s FROM items GROUP BY pk),
pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS pair_orders
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2)
SELECT part_a, part_b, pair_orders,
       CAST((pair_orders * 10000) // sa.s AS BIGINT) AS conf_a_to_b_bps,
       CAST((pair_orders * n.n_orders * 1000) // (sa.s * sb.s) AS BIGINT)
         AS lift_milli
FROM pairs
JOIN sup sa ON sa.pk = part_a
JOIN sup sb ON sb.pk = part_b
CROSS JOIN n
ORDER BY pair_orders DESC, part_a ASC, part_b ASC
LIMIT {BASKET_TOP_K}"""


register("rel_basket_affinity", rel_basket_affinity, REL_BASKET_AFFINITY_SQL)


# ---------------------------------------------------------------------------
# func_percentile_disc — PERCENTILE_DISC semantics: the percentile is an
# ACTUAL data value (smallest value whose cumulative rank reaches p·n),
# never an interpolation — the variant auditors ask for ("a real order had
# this price") and the one that stays exact on any data type.  Pure
# integer-rank arithmetic: rank via ROW_NUMBER with a value+key tie-break,
# pick rank = ceil(p·n) (ceil on exact integer math: (p_num·n + p_den − 1)
# DIV p_den).  Per order-priority over the order values.
# ---------------------------------------------------------------------------

_DISC_PCTS = ((1, 4), (1, 2), (9, 10))  # p25, p50, p90 as exact fractions


def func_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(W.partitionBy("o_orderpriority")).alias("__n"),
    )
    aggs = [F.count(F.lit(1)).alias("n_orders")]
    for num, den in _DISC_PCTS:
        target = F.expr(f"({num} * __n + {den} - 1) DIV {den}")
        aggs.append(
            F.min(F.when(F.col("__rk") == target, F.col("o_totalprice"))).alias(
                f"p{100 * num // den}_disc"
            )
        )
    return ranked.groupBy("o_orderpriority").agg(*aggs)


def _percentile_disc_sql() -> str:
    cols = []
    for num, den in _DISC_PCTS:
        cols.append(
            f"MIN(CASE WHEN rk = ({num} * n + {den} - 1) // {den} "
            f"THEN o_totalprice END) AS p{100 * num // den}_disc"
        )
    body = ",\n       ".join(cols)
    return f"""\
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {body}
FROM ranked
GROUP BY o_orderpriority"""


# ---------------------------------------------------------------------------
# rel_weighted_median — exact weighted median: the smallest quantity whose
# cumulative revenue weight reaches half the group's total (each unit of
# quantity "votes" with its revenue).  Cumulative weights run over the
# per-(group, value) pre-aggregate with a value-ordered window — exact
# scale-4 fixed-point integers, threshold multiplied out (2·cum ≥ tot).
# The unweighted median (rel_mode_median) can't answer "the typical
# revenue-weighted order size", which is what capacity planning wants.
# ---------------------------------------------------------------------------


def rel_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _with_revenue(load_table(spark, "lineitem", sf_dir))
    per_val = l.groupBy("l_returnflag", "l_quantity").agg(
        (F.sum(_REV) * 10000).cast("bigint").alias("__w")
    )
    wcum = W.partitionBy("l_returnflag").orderBy("l_quantity")
    wall = W.partitionBy("l_returnflag")
    cum = per_val.select(
        "l_returnflag",
        "l_quantity",
        F.sum("__w").over(wcum.rowsBetween(W.unboundedPreceding, 0)).alias("__cum"),
        F.sum("__w").over(wall).alias("__tot"),
    )
    return (
        cum.filter(2 * F.col("__cum") >= F.col("__tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("weighted_median_qty"),
            (F.min("__tot").cast("double") / 10000).alias("total_revenue"),
        )
    )


REL_WEIGHTED_MEDIAN_SQL = """\
WITH per_val AS (
  SELECT l_returnflag, l_quantity,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
              * 10000 AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
cum AS (
  SELECT l_returnflag, l_quantity,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                      ROWS UNBOUNDED PRECEDING) AS c,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tot
  FROM per_val)
SELECT l_returnflag,
       MIN(l_quantity) AS weighted_median_qty,
       CAST(MIN(tot) AS DOUBLE) / 10000 AS total_revenue
FROM cum
WHERE 2 * c >= tot
GROUP BY l_returnflag"""


register("func_percentile_disc", func_percentile_disc, _percentile_disc_sql())
register("rel_weighted_median", rel_weighted_median, REL_WEIGHTED_MEDIAN_SQL)


# ---------------------------------------------------------------------------
# func_percentile_cont — PERCENTILE_CONT semantics (linear interpolation
# between the two straddling order statistics: pos = 1 + p·(n−1)), computed
# as EXACT integer rational arithmetic so Spark and DuckDB hash-match
# bit-for-bit: values quantize to 1e-2 fixed point, the fractional offset is
# carried as an integer remainder r (pos = (k·den + r)/den with
# k = (n−1)·num DIV den, r = (n−1)·num % den), and the interpolated value is
# the single integer expression (v₁·den + r·(v₂ − v₁))·10⁴ DIV den, emitted
# at 1e-6 fixed point.  No double ever enters the interpolation — the usual
# PERCENTILE_CONT cross-engine failure is the float multiply-add ordering.
# Complements func_percentile_disc (rank-pick, no interpolation); the shared
# shape is one ranked window pass + conditional aggregation, one shuffle.
# ---------------------------------------------------------------------------


def func_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    ranked = o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100.0).cast("bigint").alias("__v"),
        F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(W.partitionBy("o_orderpriority")).alias("__n"),
    )
    aggs = [F.count(F.lit(1)).alias("n_orders")]
    pick_cols = []
    for num, den in _DISC_PCTS:
        lbl = f"p{100 * num // den}"
        k = f"(((__n - 1) * {num}) DIV {den})"
        aggs.append(
            F.expr(f"MIN(CASE WHEN __rk = {k} + 1 THEN __v END)").alias(f"__{lbl}_v1")
        )
        aggs.append(
            F.expr(f"MIN(CASE WHEN __rk = {k} + 2 THEN __v END)").alias(f"__{lbl}_v2")
        )
        aggs.append(F.expr(f"MIN(((__n - 1) * {num}) % {den})").alias(f"__{lbl}_r"))
        pick_cols.append(
            F.expr(
                f"(__{lbl}_v1 * {den} + __{lbl}_r * "
                f"(COALESCE(__{lbl}_v2, __{lbl}_v1) - __{lbl}_v1)) "
                f"* 10000 DIV {den}"
            ).alias(f"{lbl}_cont_e6")
        )
    g = ranked.groupBy("o_orderpriority").agg(*aggs)
    return g.select("o_orderpriority", "n_orders", *pick_cols)


def _percentile_cont_sql() -> str:
    cols = []
    for num, den in _DISC_PCTS:
        lbl = f"p{100 * num // den}"
        k = f"(((n - 1) * {num}) // {den})"
        r = f"(((n - 1) * {num}) % {den})"
        v1 = f"MIN(CASE WHEN rk = {k} + 1 THEN v END)"
        v2 = f"MIN(CASE WHEN rk = {k} + 2 THEN v END)"
        cols.append(
            f"CAST(({v1} * {den} + MIN({r}) * (COALESCE({v2}, {v1}) - {v1})) "
            f"* 10000 // {den} AS BIGINT) AS {lbl}_cont_e6"
        )
    body = ",\n       ".join(cols)
    return f"""\
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(FLOOR(o_totalprice * 100.0) AS BIGINT) AS v,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rk,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {body}
FROM ranked
GROUP BY o_orderpriority"""


register("func_percentile_cont", func_percentile_cont, _percentile_cont_sql())


# ---------------------------------------------------------------------------
# rel_dq_report — the data-contract check suite (dbt tests / Great
# Expectations shape) every warehouse runs before publishing a snapshot:
# uniqueness of the primary key, referential integrity of every foreign
# key (anti-join orphan counts), NOT-NULL gates, and domain/range
# assertions — one labeled report row per check with violation and
# checked counts.  Each check is its own aggregate over the minimal scan
# (anti-joins for FKs — never full joins), unioned into the report; at
# 100 TB the checks share nothing and parallelize trivially, and the
# orphan anti-joins broadcast the smaller key side.
# ---------------------------------------------------------------------------


def rel_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)

    # one pass per fact table computes its row count AND its row-level
    # domain violations together (conditional aggregate); the anti-join
    # orphan checks are the only additional fact scans
    with generation("rel_dq_report") as pins:
        l_stats = F.broadcast(
            l.agg(
                F.count(F.lit(1)).alias("__n_l"),
                F.sum(F.when(~(F.col("l_extendedprice") > 0), 1).otherwise(0)).alias(
                    "__v_price"
                ),
                F.sum(
                    F.when(~F.col("l_discount").between(0.0, 0.1), 1).otherwise(0)
                ).alias("__v_disc"),
            ).transform(pins.checkpoint)
        )
        o_stats = F.broadcast(
            o.agg(
                F.count(F.lit(1)).alias("__n_o"),
                F.sum(
                    F.when(
                        ~F.col("o_orderdate").between(
                            F.lit("1990-01-01").cast("timestamp"),
                            F.lit("2005-01-01").cast("timestamp"),
                        ),
                        1,
                    ).otherwise(0)
                ).alias("__v_date"),
            ).transform(pins.checkpoint)
        )

    def anti(name, fact, dim, cond, stats, n_col):
        v = fact.join(dim, cond, "left_anti").agg(
            F.count(F.lit(1)).alias("n_violations")
        )
        return v.crossJoin(stats).select(
            F.lit(name).alias("check_name"),
            "n_violations",
            F.col(n_col).cast("bigint").alias("n_checked"),
        )

    def from_stats(name, stats, v_col, n_col):
        return stats.select(
            F.lit(name).alias("check_name"),
            F.col(v_col).cast("bigint").alias("n_violations"),
            F.col(n_col).cast("bigint").alias("n_checked"),
        )

    pk_dupes = (
        o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("__c")).filter("__c > 1")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .crossJoin(o_stats)
        .select(
            F.lit("orders_pk_unique").alias("check_name"),
            "n_violations",
            F.col("__n_o").cast("bigint").alias("n_checked"),
        )
    )
    checks = [
        pk_dupes,
        anti("lineitem_fk_orders", l, o.select("o_orderkey"),
             l.l_orderkey == F.col("o_orderkey"), l_stats, "__n_l"),
        anti("lineitem_fk_part", l, p.select("p_partkey"),
             l.l_partkey == F.col("p_partkey"), l_stats, "__n_l"),
        anti("lineitem_fk_supplier", l, s.select("s_suppkey"),
             l.l_suppkey == F.col("s_suppkey"), l_stats, "__n_l"),
        anti("orders_fk_customer", o, c.select("c_custkey"),
             o.o_custkey == F.col("c_custkey"), o_stats, "__n_o"),
        from_stats("lineitem_price_positive", l_stats, "__v_price", "__n_l"),
        from_stats("lineitem_discount_domain", l_stats, "__v_disc", "__n_l"),
        from_stats("orders_date_in_range", o_stats, "__v_date", "__n_o"),
    ]
    out = checks[0]
    for r in checks[1:]:
        out = out.unionByName(r)
    return out


REL_DQ_REPORT_SQL = """\
SELECT 'orders_pk_unique' AS check_name,
       (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
                              GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS n_violations,
       (SELECT COUNT(*) FROM orders) AS n_checked
UNION ALL
SELECT 'lineitem_fk_orders',
       (SELECT COUNT(*) FROM lineitem t
        WHERE NOT EXISTS (SELECT 1 FROM orders r WHERE r.o_orderkey = t.l_orderkey)),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'lineitem_fk_part',
       (SELECT COUNT(*) FROM lineitem t
        WHERE NOT EXISTS (SELECT 1 FROM part r WHERE r.p_partkey = t.l_partkey)),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'lineitem_fk_supplier',
       (SELECT COUNT(*) FROM lineitem t
        WHERE NOT EXISTS (SELECT 1 FROM supplier r WHERE r.s_suppkey = t.l_suppkey)),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'orders_fk_customer',
       (SELECT COUNT(*) FROM orders t
        WHERE NOT EXISTS (SELECT 1 FROM customer r WHERE r.c_custkey = t.o_custkey)),
       (SELECT COUNT(*) FROM orders)
UNION ALL
SELECT 'lineitem_price_positive',
       (SELECT COUNT(*) FROM lineitem WHERE NOT (l_extendedprice > 0)),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'lineitem_discount_domain',
       (SELECT COUNT(*) FROM lineitem WHERE l_discount NOT BETWEEN 0.0 AND 0.1),
       (SELECT COUNT(*) FROM lineitem)
UNION ALL
SELECT 'orders_date_in_range',
       (SELECT COUNT(*) FROM orders
        WHERE o_orderdate NOT BETWEEN TIMESTAMP '1990-01-01' AND TIMESTAMP '2005-01-01'),
       (SELECT COUNT(*) FROM orders)"""


register("rel_dq_report", rel_dq_report, REL_DQ_REPORT_SQL)


# ---------------------------------------------------------------------------
# rel_status_transitions — first-order Markov transition counts over each
# order's line sequence: how often line status s_i is followed by s_{i+1}
# in linenumber order (totalized with part/supplier/price tie-breaks —
# the generated data has duplicate linenumbers), with per-source-state
# probabilities in exact basis
# points.  The LAG rides the (orderkey, linenumber) window — partitions
# are order-sized (tiny, bounded) — and the probability denominator is a
# window sum over the transition aggregate.  The sequence-mining shape
# (clickstream Markov models, process mining) on exact integer counts.
# ---------------------------------------------------------------------------


def rel_status_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    # linenumber is NOT unique in the generated data (duplicate lines per
    # order); the sequence order totalizes with (partkey, suppkey, price)
    w = W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice", "l_linestatus"
    )
    pairs = (
        l.select(
            "l_orderkey",
            "l_linenumber",
            F.lag("l_linestatus").over(w).alias("from_status"),
            F.col("l_linestatus").alias("to_status"),
        )
        .filter(F.col("from_status").isNotNull())
        .groupBy("from_status", "to_status")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    wtot = W.partitionBy("from_status")
    return pairs.select(
        "from_status",
        "to_status",
        "n_transitions",
        F.expr(
            "CAST((n_transitions * 10000) DIV SUM(n_transitions)"
            " OVER (PARTITION BY from_status) AS BIGINT)"
        ).alias("prob_bps"),
    )


REL_STATUS_TRANSITIONS_SQL = """\
WITH pairs AS (
  SELECT LAG(l_linestatus) OVER (PARTITION BY l_orderkey
           ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice,
                    l_linestatus)
           AS from_status,
         l_linestatus AS to_status
  FROM lineitem),
agg AS (
  SELECT from_status, to_status, COUNT(*) AS n_transitions
  FROM pairs WHERE from_status IS NOT NULL
  GROUP BY 1, 2)
SELECT from_status, to_status, n_transitions,
       CAST((n_transitions * 10000) //
            SUM(n_transitions) OVER (PARTITION BY from_status) AS BIGINT)
         AS prob_bps
FROM agg"""


register("rel_status_transitions", rel_status_transitions, REL_STATUS_TRANSITIONS_SQL)


# ---------------------------------------------------------------------------
# rel_largest_remainder_alloc — exact budget allocation by the LARGEST-
# REMAINDER method: each order's total price (1e-2 fixed point) is
# apportioned across its line items proportional to quantity such that the
# per-line allocations sum EXACTLY to the order total — the property naive
# per-line rounding violates and finance/attribution pipelines require.
# base_i = T·q_i DIV Q; the deficit T − Σbase (= number of fractional
# carries, always < n_lines) goes +1 to the lines with the largest
# remainders (T·q_i) % Q, ties broken by (line number, quantity) — the
# fixture has DUPLICATE line numbers within an order, so line number alone
# is not total and the carry would land engine-dependently.  Everything is int64
# window arithmetic over one order-partitioned pass (T·q_i ≤ ~5e9 at sf1;
# widen to DECIMAL(38,0) if quantities ever exceed ~1e9·Q⁻¹ scale).  The
# alloc_ok column carries the exactness invariant into the hash: a wrong
# carry flips it.  Deterministic 1-in-20 order slice keeps the driver
# compare bounded.
# ---------------------------------------------------------------------------


def rel_largest_remainder_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_orderkey") % 20 == 0
    )
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("t_e2")
    )
    j = l.select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").cast("bigint").alias("q")
    ).join(o, l.l_orderkey == o.o_orderkey)
    wq = W.partitionBy("l_orderkey")
    d = (
        j.withColumn("bigq", F.sum("q").over(wq))
        .withColumn("base", F.expr("t_e2 * q DIV bigq"))
        .withColumn("rem", F.expr("(t_e2 * q) % bigq"))
        .withColumn("deficit", F.col("t_e2") - F.sum("base").over(wq))
    )
    # tie-break must be TOTAL on output-distinguishable rows: the synthetic
    # lineitem has duplicate line numbers within an order (found by the
    # oracle diff), so (rem, linenumber) alone lets the carry land on
    # different rows per engine — adding q makes any remaining tie an
    # identical row, where carry placement is multiset-invisible
    wr = W.partitionBy("l_orderkey").orderBy(
        F.desc("rem"), F.asc("l_linenumber"), F.asc("q")
    )
    alloc = d.withColumn("rk", F.row_number().over(wr)).withColumn(
        "alloc_e2",
        F.col("base") + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0),
    )
    return alloc.select(
        "l_orderkey",
        "l_linenumber",
        "q",
        "alloc_e2",
        (F.sum("alloc_e2").over(wq) == F.col("t_e2")).alias("alloc_ok"),
    )


REL_LARGEST_REMAINDER_SQL = """\
WITH j AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS t_e2
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % 20 = 0),
d AS (
  SELECT l_orderkey, l_linenumber, q, t_e2,
         SUM(q) OVER (PARTITION BY l_orderkey) AS bigq
  FROM j),
b AS (
  SELECT *, t_e2 * q // bigq AS base, (t_e2 * q) % bigq AS rem
  FROM d),
c AS (
  SELECT *,
         t_e2 - SUM(base) OVER (PARTITION BY l_orderkey) AS deficit,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY rem DESC, l_linenumber ASC, q ASC) AS rk
  FROM b)
SELECT l_orderkey, l_linenumber, q,
       CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_e2,
       SUM(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END)
         OVER (PARTITION BY l_orderkey) = t_e2 AS alloc_ok
FROM c"""


register(
    "rel_largest_remainder_alloc",
    rel_largest_remainder_alloc,
    REL_LARGEST_REMAINDER_SQL,
)
