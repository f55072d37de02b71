"""Subquery-shaped OLAP reports: scalar thresholds, argmax, NOT-IN
exclusion, double-correlated EXISTS (SURVEY.md §2.3 row 1, continued).

The reference engine cannot express any subquery: its one relation is
`sales` and its only plan is the Phi scan (/root/reference/src/
QueryProcessor1.java:76-315).  These queries cover the classic TPC-H
subquery patterns a warehouse user expects, each written in the form that
is *already decorrelated* so Catalyst never falls back to per-row subquery
execution:

- rel_important_parts    — Q11: per-group total vs a global-total scalar
                           threshold (share-of-corpus filter)
- rel_top_supplier       — Q15: argmax via scalar MAX subquery, ties kept
- rel_supplier_parts_cnt — Q16: NOT-IN exclusion list + COUNT(DISTINCT)
- rel_waiting_suppliers  — Q21: EXISTS / NOT-EXISTS double correlation,
                           decorrelated into ONE per-order aggregate
- rel_sales_opportunity  — Q22: scalar AVG threshold + anti-join

Scale notes (100 TB framing): every scalar subquery becomes a one-row
DataFrame broadcast onto the big side (`crossJoin(broadcast(...))` — a
BroadcastNestedLoopJoin of a single row, i.e. free), never a driver-side
collect.  Q21's textbook form runs two correlated subqueries per lineitem
row; the formulation here computes one per-order supplier profile
(`n_supp`, `n_late_supp`) in a single map-side-combining aggregate and
joins it back — the EXISTS pair costs one extra shuffle over the
*aggregated* orders, not two passes over the fact table.  Exclusion lists
(Q16) and qualified-key sets stay broadcast.  All money math is exact
DECIMAL until the final DOUBLE cast, and threshold comparisons are written
as integer-scaled decimal inequalities (``value * 1000 > total``) so both
engines decide borderline rows identically.

The DuckDB oracles deliberately keep the *correlated* textbook forms
(EXISTS / NOT EXISTS / scalar subqueries) — agreement checks the
decorrelation, not just the arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf
from ..sources.catalog import load_table
from .registry import register
from .relational import _dec, _dsum
from .session_cache import session_cached

_REV = "__rev"


def _with_revenue(l: DataFrame) -> DataFrame:
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return l.withColumn(_REV, rev)


# ---------------------------------------------------------------------------
# rel_important_parts — TPC-H Q11 shape: parts whose revenue exceeds a fixed
# fraction of TOTAL revenue.  The global total is a one-row broadcast; the
# threshold test is exact decimal (value * 1500 > total), so no float
# boundary flakes.  One shuffle (per-part aggregate); part dim broadcast.
# ---------------------------------------------------------------------------


def _part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part revenue rollup, session-cached: the numerator AND the global
    denominator both read it, so lineitem is scanned once (uncached, the
    scalar-total branch would re-scan the fact table — Catalyst prunes the
    two branches to different column sets, defeating exchange reuse).  In a
    warehouse this is the part-revenue summary a pipeline materializes."""

    def build() -> DataFrame:
        l = _with_revenue(load_table(spark, "lineitem", sf_dir))
        return l.groupBy("l_partkey").agg(F.sum(_REV).alias("__val")).persist()

    return session_cached("part_revenue", spark, sf_dir, build)


def rel_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    per_part = _part_revenue(spark, sf_dir)
    total = per_part.agg(F.sum("__val").alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__val") * 1500 > F.col("__total"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            "p_partkey",
            "p_name",
            F.col("__val").cast("double").alias("part_value"),
            (F.col("__val").cast("double") / F.col("__total").cast("double")).alias("share"),
        )
    )


REL_IMPORTANT_PARTS_SQL = """\
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS val
  FROM lineitem GROUP BY l_partkey
)
SELECT p_partkey, p_name,
       CAST(val AS DOUBLE) AS part_value,
       CAST(val AS DOUBLE) / CAST((SELECT SUM(val) FROM per_part) AS DOUBLE) AS share
FROM per_part JOIN part ON l_partkey = p_partkey
WHERE val * 1500 > (SELECT SUM(val) FROM per_part)"""


# ---------------------------------------------------------------------------
# rel_top_supplier — TPC-H Q15 shape: supplier(s) with the maximum revenue
# in a quarter.  The MAX is a one-row broadcast compared in exact DECIMAL,
# so ties are kept deterministically (classic Q15 keeps ties too).
# ---------------------------------------------------------------------------

_Q_START = "1997-01-01"
_Q_END = "1997-04-01"


def _supplier_qrev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q15 revenue VIEW (TPC-H defines it as one), session-cached: the
    argmax branch and the main filter both read it, so lineitem is scanned
    once instead of once per branch (same two-branch-over-one-aggregate
    shape _part_revenue fixes above)."""

    def build() -> DataFrame:
        l = _with_revenue(load_table(spark, "lineitem", sf_dir))
        return (
            l.filter(
                (F.col("l_shipdate") >= F.lit(_Q_START).cast("timestamp"))
                & (F.col("l_shipdate") < F.lit(_Q_END).cast("timestamp"))
            )
            .groupBy("l_suppkey")
            .agg(F.sum(_REV).alias("__rev_q"))
            .persist()
        )

    return session_cached("supplier_qrev", spark, sf_dir, build)


def rel_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, "supplier", sf_dir)
    rev = _supplier_qrev(spark, sf_dir)
    top = rev.agg(F.max("__rev_q").alias("__max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("__rev_q") == F.col("__max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("__rev_q").cast("double").alias("total_revenue"))
    )


REL_TOP_SUPPLIER_SQL = f"""\
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_q
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q_START}' AND l_shipdate < TIMESTAMP '{_Q_END}'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_q AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_q = (SELECT MAX(rev_q) FROM rev)"""


# ---------------------------------------------------------------------------
# rel_supplier_parts_cnt — TPC-H Q16 shape: how many distinct acceptable
# suppliers stock each (brand, type, size) bucket, excluding a supplier
# blocklist (NOT IN → broadcast left-anti).  COUNT(DISTINCT) shuffles on
# the group key; the blocklist (negative-balance suppliers) is tiny and
# broadcast no matter the fact scale.
# ---------------------------------------------------------------------------


def rel_supplier_parts_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    keep_parts = p.filter((F.col("p_brand") != "BRAND_1") & (F.col("p_size") <= 25))
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(keep_parts), l.l_partkey == keep_parts.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


REL_SUPPLIER_PARTS_CNT_SQL = """\
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'BRAND_1' AND p_size <= 25
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size"""


# ---------------------------------------------------------------------------
# rel_waiting_suppliers — TPC-H Q21 shape: suppliers who were the ONLY late
# supplier on a multi-supplier finished order ("kept the order waiting").
# "Late" = shipped more than 120 days after the order date (the driver
# schema has no commit/receipt dates; the correlation structure is what Q21
# is about).  The textbook query runs an EXISTS and a NOT-EXISTS correlated
# to each lineitem row; here both collapse into ONE per-order profile
# (n_supp, n_late_supp) computed in a single aggregate — at 100 TB that is
# one map-side-combining pass over lineitem instead of two correlated
# probes per row.  Count semantics match the textbook form: one unit per
# late LINE of the sole-late supplier.
# ---------------------------------------------------------------------------

_LATE_DAYS = 120


def rel_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = (
        load_table(spark, "lineitem", sf_dir)
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .withColumn(
            # interval add, NOT date_add: date_add truncates the timestamp to
            # DATE, which would diverge from the oracle's + INTERVAL if the
            # order date ever carries a time-of-day component
            "__late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {_LATE_DAYS} DAYS"),
        )
    )
    profile = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_supp"),
        F.countDistinct(F.when(F.col("__late"), F.col("l_suppkey"))).alias("__n_late"),
    )
    s = load_table(spark, "supplier", sf_dir)
    waiting = (
        l.filter(F.col("__late"))
        .join(
            profile.filter((F.col("__n_supp") > 1) & (F.col("__n_late") == 1)),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return waiting.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey).select(
        "s_suppkey", "s_name", "numwait"
    )


REL_WAITING_SUPPLIERS_SQL = f"""\
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL {_LATE_DAYS} DAY)
GROUP BY s_suppkey, s_name"""


# ---------------------------------------------------------------------------
# rel_sales_opportunity — TPC-H Q22 shape: well-funded customers with no
# recent orders, profiled per market segment.  The AVG threshold is a
# one-row broadcast compared exactly (bal * count > sum — the same
# decimal-cross-multiply trick as rel_correlated_subquery); "no recent
# orders" is a broadcast-able left-anti join on the date-filtered orders.
# ---------------------------------------------------------------------------

_RECENT = "1999-01-01"


def rel_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate") >= F.lit(_RECENT).cast("timestamp"))
        .select("o_custkey")
    )
    stats = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(_dec("c_acctbal")).alias("__sum"), F.count(F.lit(1)).alias("__cnt")
    )
    return (
        c.crossJoin(F.broadcast(stats))
        .filter(_dec("c_acctbal") * F.col("__cnt") > F.col("__sum"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
    )


REL_SALES_OPPORTUNITY_SQL = f"""\
SELECT c_mktsegment, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE CAST(c_acctbal AS DECIMAL(18,2))
      * (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0)
      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{_RECENT}')
GROUP BY c_mktsegment"""


register("rel_important_parts", rel_important_parts, REL_IMPORTANT_PARTS_SQL)
register("rel_top_supplier", rel_top_supplier, REL_TOP_SUPPLIER_SQL)
register("rel_supplier_parts_cnt", rel_supplier_parts_cnt, REL_SUPPLIER_PARTS_CNT_SQL)
register("rel_waiting_suppliers", rel_waiting_suppliers, REL_WAITING_SUPPLIERS_SQL)
register("rel_sales_opportunity", rel_sales_opportunity, REL_SALES_OPPORTUNITY_SQL)


# ---------------------------------------------------------------------------
# rel_hierarchy_rollup — recursive-CTE hierarchy aggregation (the BOM /
# org-chart walk SQL warehouses answer with WITH RECURSIVE, supported by
# Spark since 4.0).  The part catalog is given a synthetic binary-tree
# hierarchy (parent = key DIV 2, root = 1 — deterministic, no extra table
# needed); the recursion emits every (part, ancestor) pair by climbing the
# tree, and the rollup charges each part's exact revenue to ALL its
# ancestors — the subtree-total question a flat GROUP BY cannot express.
# Cost model at 100 TB: the recursion runs over the per-part AGGREGATE
# (catalog-sized), never the fact table; depth is log2(catalog) iterations
# and the expanded relation is nodes×depth rows.  Output is restricted to
# the top 6 tree levels (node < 64).  Both engines run the same recursion
# (DuckDB spells integer division //, Spark DIV).
# ---------------------------------------------------------------------------

HIER_TOP_NODES = 64


def _run_recursive(spark: SparkSession, sql: str) -> DataFrame:
    """Run a recursive-CTE query under a raised cteRecursionRowLimit,
    RESTORING the session default afterwards (``session.scoped_conf``).
    The walks here emit |parts| × log₂(max key)
    rows — ~3.6e6 at sf1, over Spark's default limit of 1e6 (found by the
    sf1 sweep: RECURSION_ROW_LIMIT_EXCEEDED).  They are DEPTH-bounded by
    construction (node halves every level: ≤ 64 levels for any int64 key,
    under the separate cteRecursionLevelLimit of 100), so the row limit is
    the wrong guard for this shape — raise it to the int32 ceiling for the
    duration of THIS query only.  Because Spark reads session confs at
    execution (not DataFrame-build) time, the tiny aggregated result
    (≤ 64 rows) is eagerly localCheckpoint-ed inside the raised window so
    the returned DataFrame no longer depends on the conf and a later query
    in the same session keeps the default recursion safety rail."""
    with scoped_conf(spark, {"spark.sql.cteRecursionRowLimit": str(2**31 - 1)}):
        return spark.sql(sql).localCheckpoint(eager=True)


def rel_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView(
        "__hier_lineitem"
    )
    return _run_recursive(spark, f"""
        WITH RECURSIVE per_part AS (
          SELECT l_partkey AS pk,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS val
          FROM __hier_lineitem GROUP BY l_partkey),
        anc(pk, node) AS (
          SELECT pk, pk AS node FROM per_part
          UNION ALL
          SELECT pk, node DIV 2 FROM anc WHERE node > 1)
        SELECT node,
               COUNT(*) AS n_parts,
               CAST(SUM(val) AS DOUBLE) AS subtree_rev
        FROM anc JOIN per_part USING (pk)
        WHERE node < {HIER_TOP_NODES}
        GROUP BY node
    """)


REL_HIERARCHY_ROLLUP_SQL = f"""\
WITH RECURSIVE per_part AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS val
  FROM lineitem GROUP BY l_partkey),
anc(pk, node) AS (
  SELECT pk, pk FROM per_part
  UNION ALL
  SELECT pk, node // 2 FROM anc WHERE node > 1)
SELECT node,
       COUNT(*) AS n_parts,
       CAST(SUM(val) AS DOUBLE) AS subtree_rev
FROM anc JOIN per_part USING (pk)
WHERE node < {HIER_TOP_NODES}
GROUP BY node"""


register("rel_hierarchy_rollup", rel_hierarchy_rollup, REL_HIERARCHY_ROLLUP_SQL)


# ---------------------------------------------------------------------------
# rel_bom_explosion — MULTIPLICATIVE recursive aggregation: the
# bill-of-materials effective-quantity walk.  rel_hierarchy_rollup answers
# the ADDITIVE hierarchy question (charge each part's revenue to all its
# ancestors); a BOM asks the question addition can't express — "how many
# units of part p does ONE unit of the root assembly consume?", the PRODUCT
# of the per-edge usage quantities along p's ancestor path.  The same
# synthetic binary catalog tree (parent = key DIV 2, root = 1) gets a
# deterministic per-edge quantity q(node) = node % 3 + 1 (units of `node`
# per one parent unit), and the recursion threads the running product:
#   w(part, node, eff):  (p, p, 1)  →  (p, node DIV 2, eff·q(node))
# stopping at the root; the row that lands on node = 1 carries
# eff = Π q(a) over the whole path.  The report aggregates per tree depth
# (bounded output): n_parts, the max effective quantity, and the mean
# (sum DIV n) with the sum widened to DECIMAL(38,0) — eff ≤ 3^depth crosses
# int64 SUMS around sf10's 34-deep keys while per-part values stay inside.
# Same recursion/row-limit posture as rel_hierarchy_rollup (depth-bounded
# walk, row limit raised to the int32 ceiling).  Key 0 sits OUTSIDE the
# synthetic tree (0 DIV 2 = 0 self-loops and never reaches the root), so
# the anchor excludes it EXPLICITLY — without the filter it would vanish
# silently from the node = 1 output (caught by the path-product test).
# ---------------------------------------------------------------------------


def rel_bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, "part", sf_dir).createOrReplaceTempView("__bom_part")
    return _run_recursive(spark, """
        WITH RECURSIVE w(part, node, eff, d) AS (
          SELECT p_partkey, p_partkey, CAST(1 AS BIGINT), 0
          FROM __bom_part WHERE p_partkey >= 1
          UNION ALL
          SELECT part, node DIV 2, eff * (node % 3 + 1), d + 1
          FROM w WHERE node > 1)
        SELECT d AS depth,
               COUNT(*) AS n_parts,
               MAX(eff) AS max_eff_qty,
               CAST(SUM(CAST(eff AS DECIMAL(38,0))) DIV COUNT(*) AS BIGINT)
                 AS mean_eff_qty
        FROM w
        WHERE node = 1
        GROUP BY d
    """)


REL_BOM_EXPLOSION_SQL = """\
WITH RECURSIVE w(part, node, eff, d) AS (
  SELECT p_partkey, p_partkey, CAST(1 AS BIGINT), 0
  FROM part WHERE p_partkey >= 1
  UNION ALL
  SELECT part, node // 2, eff * (node % 3 + 1), d + 1
  FROM w WHERE node > 1)
SELECT d AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MAX(eff) AS BIGINT) AS max_eff_qty,
       CAST(CAST(SUM(CAST(eff AS HUGEINT)) AS HUGEINT) // COUNT(*) AS BIGINT)
         AS mean_eff_qty
FROM w
WHERE node = 1
GROUP BY d"""


register("rel_bom_explosion", rel_bom_explosion, REL_BOM_EXPLOSION_SQL)
