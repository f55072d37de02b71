"""Compact-structure join prefilters (SURVEY.md §2.3 row 1, continued —
runtime filtering for fact-table joins).

The reference engine joins nothing (its one relation is `sales`,
/root/reference/src/QueryProcessor1.java:76-96); Spark's own answer to
selective fact⋈dim joins is dynamic runtime filtering (AQE bloom/DPP).
This module makes that pattern an explicit, exact operator for engines and
situations where the optimizer can't inject it:

rel_bitmap_semi_join — a bitmap-index semi join.  The filtered dimension's
integer keys are packed into a dense bitmap: one row per 64-key block
(``block = key div 64``), one BIGINT word per row holding the membership
bits (``bit_or(1 << (key mod 64))``).  The fact side broadcast-joins on the
block id and tests its bit with shift/mask — an EXACT semi join (each key
owns a unique bit, so unlike a bloom filter there are no false positives
and no verify pass).

Scale notes (100 TB framing): the broadcast structure costs 8 bytes per
64-key block — for 10⁹ qualifying keys that is ~125 MB against the many GB
a broadcast hash-set of the raw keys would need, and the fact side is
filtered BEFORE any shuffle, so the downstream aggregate sees only
qualifying rows.  The bitmap build is one map-side-combining aggregate
over the (already filtered) dimension.  Bit tests are pure JVM integer
expressions inside whole-stage codegen.  Arithmetic shift-right keeps the
low bit correct even for words with bit 63 set (& 1 masks the sign fill).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register
from .relational import _dec


def bitmap_blk_bit(key_col: str):
    """(block, bit-mask) columns of the 64-key block-bitmap encoding, exact
    for ANY int64 key: arithmetic ``shiftright(key, 6)`` IS floor-division
    by 64 at full 64-bit precision, and ``key & 63`` is the matching
    non-negative bit index (two's complement: -1 & 63 = 63).  The
    alternatives both break: double-based FLOOR(key/64) loses exactness at
    |key| >= 2^53, and truncating div/% map a negative key to a negative
    shift count, which the JVM masks to its low 6 bits — key -1 would
    collide with key 63.  Single definition shared by every bitmap
    operator (semi join, distinct, set algebra, rollup) so the encoding
    cannot drift between tiers."""
    blk = F.expr(f"shiftright({key_col}, 6)")
    bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(({key_col} & 63) AS INT))")
    return blk, bit


def bitmap_semi_join(fact: DataFrame, keys: DataFrame, fact_key: str, key_col: str) -> DataFrame:
    """Exact semi join of ``fact`` against the integer key set ``keys``,
    transported as a blocked bitmap (8 bytes per 64-key block); see
    bitmap_blk_bit for why the encoding is shift/mask based."""
    kblk, kbit = bitmap_blk_bit(key_col)
    fblk, _ = bitmap_blk_bit(fact_key)
    bitmap = (
        keys.select(kblk.alias("__blk"), kbit.alias("__bit"))
        .groupBy("__blk")
        .agg(F.bit_or("__bit").alias("__word"))
    )
    return (
        fact.join(F.broadcast(bitmap), fblk == F.col("__blk"))
        .filter(
            F.expr(
                f"(shiftright(__word, CAST(({fact_key} & 63) AS INT)) & CAST(1 AS BIGINT)) = 1"
            )
        )
        .drop("__blk", "__word")
    )


# Registered instance: revenue of lineitems belonging to URGENT 1997 orders,
# per return flag — the qualifying order-key set rides a bitmap instead of a
# broadcast hash set.


def rel_bitmap_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.year("o_orderdate") == 1997)
    )
    l = load_table(spark, "lineitem", sf_dir)
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        bitmap_semi_join(l, o.select("o_orderkey"), "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


REL_BITMAP_SEMI_JOIN_SQL = """\
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE)  AS revenue,
       COUNT(*)         AS n_lines
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT'
                       AND year(o_orderdate) = 1997)
GROUP BY l_returnflag"""


register("rel_bitmap_semi_join", rel_bitmap_semi_join, REL_BITMAP_SEMI_JOIN_SQL)


# ---------------------------------------------------------------------------
# rel_bitmap_distinct — EXACT mergeable COUNT(DISTINCT) via bitmap
# aggregation, the Druid/ClickHouse alternative to HLL when the key domain
# is dense integers: each (group, 64-key block) reduces to one BIGINT word
# (bit_or of 1 << key mod 64), distinct count = Σ bit_count(word).  Unlike
# approx_count_distinct this is exact, and unlike COUNT(DISTINCT) the
# per-block words are MERGEABLE partial state — the same rollup algebra as
# rel_incremental_agg (bit_or is idempotent/commutative), so daily bitmap
# tiers can union into monthly NDV without touching raw facts.  Two
# map-side-combining aggregates, keys shrink 64× after the first.  The
# DuckDB oracle is the first-principles COUNT(DISTINCT) — agreement proves
# the whole bitmap encoding, merge, and popcount path (same oracle policy
# as rel_bitmap_semi_join).  Monthly distinct buyers per order priority.
# ---------------------------------------------------------------------------


def rel_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    blk, bit = bitmap_blk_bit("o_custkey")
    words = (
        o.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_orderpriority",
            blk.alias("__blk"),
            bit.alias("__bit"),
        )
        .groupBy("month", "o_orderpriority", "__blk")
        .agg(F.bit_or("__bit").alias("__word"))
    )
    return words.groupBy("month", "o_orderpriority").agg(
        F.sum(F.bit_count("__word")).cast("bigint").alias("n_buyers")
    )


REL_BITMAP_DISTINCT_SQL = """\
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       o_orderpriority,
       COUNT(DISTINCT o_custkey) AS n_buyers
FROM orders
GROUP BY 1, 2"""


register("rel_bitmap_distinct", rel_bitmap_distinct, REL_BITMAP_DISTINCT_SQL)


# ---------------------------------------------------------------------------
# rel_bitmap_set_algebra — audience set EXPRESSIONS over the same 64-key
# block-bitmap encoding rel_bitmap_distinct builds: per customer segment the
# buyer bitmaps of three years are combined word-wise — retained = Y1 AND
# Y2, churned = Y1 AND NOT Y2, resurrected = (Y1 AND NOT Y2) AND Y3 — and
# each audience size is Σ popcount of the combined words.  This is the
# bitmap-index query pattern (roaring-bitmap audience engines, Druid/Pinot
# set filters): the fact table is scanned ONCE to build the per-year tier;
# every audience after that is pure word algebra over (segment × blocks)
# rows — bytes per group, no re-scan, no distinct re-shuffle.  The DuckDB
# oracle computes the same audiences as direct INTERSECT/EXCEPT-style
# distinct sets — a deliberately different formulation, so agreement proves
# the AND/AND-NOT word algebra and the block alignment (a FULL OUTER merge
# of the per-year block tables, since a block can exist in one year only).
# ---------------------------------------------------------------------------

_BSA_YEARS = (1996, 1997, 1998)


def rel_bitmap_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    y1, y2, y3 = _BSA_YEARS
    blk, bit = bitmap_blk_bit("o_custkey")
    base = (
        o.filter(F.year("o_orderdate").isin(*_BSA_YEARS))
        .join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            F.year("o_orderdate").cast("int").alias("yr"),
            blk.alias("blk"),
            bit.alias("bit"),
        )
    )
    words = base.groupBy("c_mktsegment", "yr", "blk").agg(
        F.bit_or("bit").alias("w")
    )
    # pivot the tiny tier to one row per (segment, block) with a word per
    # year; blocks missing a year get 0 (FULL-merge semantics)
    tier = (
        words.groupBy("c_mktsegment", "blk")
        .pivot("yr", list(_BSA_YEARS))
        .agg(F.first("w"))
        .na.fill(0)
        .withColumnRenamed(str(y1), "w1")
        .withColumnRenamed(str(y2), "w2")
        .withColumnRenamed(str(y3), "w3")
    )
    retained = F.col("w1").bitwiseAND(F.col("w2"))
    churned = F.col("w1").bitwiseAND(F.bitwise_not(F.col("w2")))
    resurrected = churned.bitwiseAND(F.col("w3"))
    return tier.groupBy("c_mktsegment").agg(
        F.sum(F.bit_count(retained)).cast("bigint").alias("n_retained"),
        F.sum(F.bit_count(churned)).cast("bigint").alias("n_churned"),
        F.sum(F.bit_count(resurrected)).cast("bigint").alias("n_resurrected"),
    )


REL_BITMAP_SET_ALGEBRA_SQL = f"""\
WITH buyers AS (
  SELECT DISTINCT c_mktsegment, CAST(year(o_orderdate) AS INT) AS yr, o_custkey
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE year(o_orderdate) IN {_BSA_YEARS}),
y1 AS (SELECT c_mktsegment, o_custkey FROM buyers WHERE yr = {_BSA_YEARS[0]}),
y2 AS (SELECT c_mktsegment, o_custkey FROM buyers WHERE yr = {_BSA_YEARS[1]}),
y3 AS (SELECT c_mktsegment, o_custkey FROM buyers WHERE yr = {_BSA_YEARS[2]}),
seg AS (SELECT DISTINCT c_mktsegment FROM buyers)
SELECT s.c_mktsegment,
       CAST((SELECT COUNT(*) FROM y1 JOIN y2 USING (c_mktsegment, o_custkey)
             WHERE y1.c_mktsegment = s.c_mktsegment) AS BIGINT) AS n_retained,
       CAST((SELECT COUNT(*) FROM y1
             WHERE y1.c_mktsegment = s.c_mktsegment
               AND NOT EXISTS (SELECT 1 FROM y2
                               WHERE y2.c_mktsegment = y1.c_mktsegment
                                 AND y2.o_custkey = y1.o_custkey)) AS BIGINT) AS n_churned,
       CAST((SELECT COUNT(*) FROM y1 JOIN y3 USING (c_mktsegment, o_custkey)
             WHERE y1.c_mktsegment = s.c_mktsegment
               AND NOT EXISTS (SELECT 1 FROM y2
                               WHERE y2.c_mktsegment = y1.c_mktsegment
                                 AND y2.o_custkey = y1.o_custkey)) AS BIGINT) AS n_resurrected
FROM seg s"""


register("rel_bitmap_set_algebra", rel_bitmap_set_algebra, REL_BITMAP_SET_ALGEBRA_SQL)
