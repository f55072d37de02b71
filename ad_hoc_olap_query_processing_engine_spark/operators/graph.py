"""Graph analytics over the relational tables (SURVEY.md §2.3 extension
tier; the reference has no joins at all, let alone graphs — its one relation
is `sales`, /root/reference/src/QueryProcessor1.java:76-96).

graph_pagerank    PageRank over the customer↔supplier purchase graph
                  (distinct (c_custkey, l_suppkey) pairs from
                  lineitem⋈orders, symmetrized so every node has out-degree
                  ≥ 1 and no sink handling is needed). The iteration runs in
                  FIXED-POINT INTEGER arithmetic — ranks carry 10^12 units of
                  mass per node, contributions are integer DIV by out-degree,
                  damping is (15·10^12 + 85·Σcontrib) DIV 100 — so every
                  round is bit-exact and order-independent in both engines,
                  and the whole iterative algorithm is ORACLE-CHECKED (the
                  DuckDB mirror unrolls the same K rounds as chained CTEs;
                  float PageRank could never hash-match). K is a fixed small
                  constant, so the Spark plan is K chained aggregates — the
                  same bounded-iteration contract as dedup_cluster_cc's
                  label propagation. int64 headroom: ranks are bounded by
                  total mass N·10^12 and the update multiplies by 85, so the
                  scheme is safe to N ≈ 10^5 nodes per 10^12-unit scale; at
                  larger N drop INIT_MASS a decade per 10× nodes (or widen
                  to decimal).

At 100 TB: the edge build is one distinct over the join (shuffle on the
pair), each round is one groupBy(dst) shuffle over the edge list — the
textbook Pregel-style message pass expressed relationally. The degree table
joins broadcast (|nodes| ≪ |edges|); nothing iterates on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .iterutil import work_partitions
from .registry import register
from .session_cache import session_cached

PR_ROUNDS = 3
PR_INIT = 10**12  # fixed-point mass units per node
PR_TOP_K = 20

def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct customer↔supplier edges ('c:<id>' / 's:<id>')."""
    l = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    # dedup on the raw int pair FIRST, then build the string node ids: the
    # distinct's shuffle carries two longs instead of two strings (marginal
    # at sf0.1 where codegen dominates the build, material at fact scale
    # where the dedup shuffle is the wide one)
    pairs = (
        l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("s"),
        )
    )
    return pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )


def purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached materialization of the symmetric edge list.  The
    pagerank plan references it once per round (K+1 times total); Spark's
    exchange reuse already collapses the identical build subtrees within
    one run, so the cache's value is across runs/consumers — it is the
    graph table a warehouse materializes before iterating (measured: warm
    rerun 6.1 s vs 7.9 s uncached at sf0.1)."""
    # hash-partitioned on src BEFORE persisting: InMemoryTableScan preserves
    # outputPartitioning, so each round's edges⋈shares join reuses the cached
    # layout and only shuffles the (node-sized) shares side — measured at
    # sf0.1: 7.4 s → 5.2 s cold, 2.1 s warm
    return session_cached(
        "purchase_edges",
        spark,
        sf_dir,
        lambda: _purchase_edges(spark, sf_dir).repartition("src").persist(),
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = purchase_edges(spark, sf_dir)
    # deg is referenced PR_ROUNDS+1 times and Catalyst performs no
    # cross-plan CSE, so the unrolled plan evaluated the aggregate 4×.
    # Round 14 (verdict r13 #5): the saturated-host A/B (32 busy loops,
    # the r13 probe harness) measured the lazy checkpoint 15-20% faster —
    # plain 5.0-6.4 s vs checkpointed 4.8-5.1 s, identical ranks — because
    # with no idle cores the duplicated aggregates no longer hide in
    # overlap; on a quiet host r13 measured the same flip a wash.  On a
    # saturated production cluster the duplicate work is pure waste, so
    # the checkpoint is the scale-correct default.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=False
    )
    ranks = deg.select(F.col("src").alias("node"), F.lit(PR_INIT).cast("bigint").alias("r"))
    for _ in range(PR_ROUNDS):
        # integer DIV throughout — a double division would silently round
        # past 2^53 and diverge from the oracle's exact `//`
        shares = (
            ranks.join(deg, ranks.node == deg.src)
            .select(F.col("src"), F.expr("r DIV deg").cast("bigint").alias("share"))
        )
        contrib = (
            edges.join(shares, "src").groupBy("dst").agg(F.sum("share").alias("inflow"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            F.expr(f"({15 * PR_INIT} + 85 * inflow) DIV 100").cast("bigint").alias("r"),
        )
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(PR_TOP_K)
        .select("node", F.col("r").alias("rank_fp"))
    )


def _pagerank_sql() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, PR_ROUNDS + 1):
        rounds.append(f"""\
r{i} AS (
  SELECT e.dst AS node,
         CAST((15000000000000 + 85 * SUM(CAST(p.r AS BIGINT) // d.deg)) // 100 AS BIGINT) AS r
  FROM edges e
  JOIN {prev} p ON p.node = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst)""")
        prev = f"r{i}"
    joined_rounds = ",\n".join(rounds)
    return f"""\
WITH pairs AS (
  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST({PR_INIT} AS BIGINT) AS r FROM deg),
{joined_rounds}
SELECT node, r AS rank_fp FROM {prev}
ORDER BY r DESC, node ASC
LIMIT {PR_TOP_K}"""


register("graph_pagerank", graph_pagerank, _pagerank_sql())


# ---------------------------------------------------------------------------
# graph_triangles — triangle counting over the top-K co-purchase neighbor
# graph of parts, reported as each part's triangle participation (top-20).
# Two standard scale techniques compose here:
#
#   1. DEGREE CAP: the raw co-purchase projection of a fact table densifies
#      as facts grow (fixed catalog, growing orders ⇒ quadratic pair
#      growth), so production co-occurrence/similarity pipelines keep only
#      each node's top-K strongest neighbors (a kNN graph).  Edges rank by
#      (co-purchase count DESC, neighbor id) per endpoint — deterministic —
#      and survive if EITHER endpoint keeps them (standard kNN-graph
#      union).  Degree is then ≤ 2K regardless of fact volume, so the
#      wedge join below is linear in the node count forever.
#   2. EDGE ORIENTATION: orient surviving edges low-id → high-id, build
#      wedges (a<b)⋈(b<c), close against the oriented set (a,c) — each
#      triangle found exactly once, no double counting.
#
# The customer↔supplier pagerank graph is bipartite (triangle-free), so
# this op builds the part-part projection.  All counts are exact integers;
# top-20 is TakeOrdered with id tiebreak.
# ---------------------------------------------------------------------------

TRI_KNN = 8
TRI_TOP_K = 20


def knn_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached degree-capped co-purchase edge list.  The triangle
    closure references it three times (wedge left, wedge right, closing
    edge); exchange reuse collapses those within one run, so the cache
    exists for cross-run reuse — the artifact any other co-occurrence
    consumer (recommenders, bundle mining) would read."""

    def build() -> DataFrame:
        from pyspark.sql import Window as W

        l = load_table(spark, "lineitem", sf_dir)
        # one shuffle on ok serves BOTH the dedup and the self-join:
        # hashpartitioning(ok) satisfies the (ok, pk) clustered distribution
        # (subset rule), so dropDuplicates adds no exchange, and the join
        # reuses the same layout on both sides — measured 5.0 s → 3.9 s
        # cold at sf0.1
        items = (
            l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
            .repartition("ok")
            .dropDuplicates(["ok", "pk"])
        )
        i2 = items.select(F.col("ok"), F.col("pk").alias("pk2"))
        pairs = (
            items.join(i2, "ok")
            .filter(F.col("pk") < F.col("pk2"))
            .groupBy(F.col("pk").alias("a"), F.col("pk2").alias("b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        nbrs = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"), "cnt").unionByName(
            pairs.select(F.col("b").alias("x"), F.col("a").alias("y"), "cnt")
        )
        rn = F.row_number().over(W.partitionBy("x").orderBy(F.desc("cnt"), F.asc("y")))
        return (
            nbrs.withColumn("__rn", rn)
            .filter(F.col("__rn") <= TRI_KNN)
            .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .distinct()
            .persist()
        )

    return session_cached("tri_knn_edges", spark, sf_dir, build)


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = knn_copurchase_edges(spark, sf_dir)
    e2 = edges.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    wedges = edges.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    e3 = edges.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    ).select("a", "b", "c")
    return (
        tris.select(F.explode(F.array("a", "b", "c")).alias("p_partkey"))
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("p_partkey"))
        .limit(TRI_TOP_K)
    )


# shared oracle CTEs for the degree-capped kNN co-purchase graph (consumed
# by graph_triangles and graph_kcore)
_KNN_EDGES_CTES = f"""\
items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pairs AS (
  SELECT i1.pk AS a, i2.pk AS b, COUNT(*) AS cnt
  FROM items i1 JOIN items i2 ON i1.ok = i2.ok AND i1.pk < i2.pk
  GROUP BY 1, 2),
nbrs AS (
  SELECT a AS x, b AS y, cnt FROM pairs
  UNION ALL SELECT b, a, cnt FROM pairs),
edges AS (
  SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY x ORDER BY cnt DESC, y ASC) AS rn
        FROM nbrs)
  WHERE rn <= {TRI_KNN})"""

GRAPH_TRIANGLES_SQL = f"""\
WITH {_KNN_EDGES_CTES},
tris AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT pk AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS pk FROM tris)
GROUP BY pk
ORDER BY n_triangles DESC, p_partkey ASC
LIMIT {TRI_TOP_K}"""


register("graph_triangles", graph_triangles, GRAPH_TRIANGLES_SQL)


# ---------------------------------------------------------------------------
# graph_bfs_layers — multi-source BFS over the purchase graph: how far is
# every node from the seed suppliers, summarized per hop layer.
#
# The frontier iteration is the textbook Pregel BFS expressed relationally:
# each round expands the CURRENT frontier only (edges ⋈ frontier — never the
# full visited set), dedups the candidates, and anti-joins the accumulated
# label table so a node keeps the hop count of its FIRST discovery.  K is a
# fixed small constant (3), so the plan is K chained join+distinct stages —
# bounded, no driver-side looping over data, same contract as
# graph_pagerank's rounds and dedup_cluster_cc's label propagation.  At
# 100 TB the per-round shuffle is proportional to the frontier's edge
# neighborhood, and the label table only ever grows by reached nodes.
# Everything is exact integer/string work, so the DuckDB oracle unrolls the
# identical K rounds as chained CTEs and hash-matches.
# ---------------------------------------------------------------------------

BFS_ROUNDS = 3
BFS_SEEDS = ("s:1", "s:2", "s:3")


def graph_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = purchase_edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    seeds = nodes.filter(F.col("node").isin(*BFS_SEEDS))
    # seed layer checkpointed once (multiple readers per round); the
    # accumulated label table is NOT re-checkpointed per round (round 14):
    # dist only ever grows by unionByName over ALREADY-CHECKPOINTED fresh
    # legs, so every reference is a union of bare LogicalRDDs — plan size
    # stays linear in the fixed round count and nothing re-derives.  The
    # dropped per-round dist checkpoints were pure construction cost
    # (interleaved A/B at sf0.1: 3.1-3.9 → 3.0-3.1 s, identical layers).
    dist = seeds.withColumn("dist", F.lit(0)).localCheckpoint(eager=False)
    frontier = seeds
    for k in range(1, BFS_ROUNDS + 1):
        # frontier and label table are node-sized (≪ edges for this catalog
        # graph: 16k nodes vs 1.6M directed edges at sf0.1), so broadcast
        # both — each round is then a map-only pass over the persisted edge
        # partitions plus one node-sized distinct. On a general graph whose
        # frontier can approach |V|, drop the hints and let AQE choose.
        reached = (
            edges.join(F.broadcast(frontier), edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        # localCheckpoint per round (same contract as dedup_cluster_cc's
        # label propagation): without it the round-k frontier's lineage
        # re-evaluates every earlier round each time it's referenced — the
        # anti-join target AND the next expansion both read it, so the plan
        # grows multiplicatively (measured at sf0.1: 10.3 s → 4.7 s after
        # the edge build with checkpoint + broadcast, 2.2 s warm).  LAZY
        # (round 13): truncation happens at call time either way; eager's
        # per-round blocking count() serialized the walk into 7 jobs —
        # lazy runs it as one (1.3-1.6 → 1.2 s warm, identical layers; the
        # round count is fixed, so no driver branch needs the counts).
        fresh = (
            reached.join(F.broadcast(dist.select("node")), "node", "left_anti")
            .withColumn("dist", F.lit(k))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionByName(fresh)
        frontier = fresh.select("node")
    return dist.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("first_node"),
    )


def _bfs_sql() -> str:
    seeds = ", ".join(f"'{s}'" for s in BFS_SEEDS)
    rounds = []
    acc = "d0"
    for k in range(1, BFS_ROUNDS + 1):
        prev_front = "d0" if k == 1 else f"f{k - 1}"
        rounds.append(f"""\
f{k} AS (
  SELECT node, {k} AS dist FROM (
    SELECT DISTINCT e.dst AS node
    FROM edges e JOIN {prev_front} p ON e.src = p.node)
  WHERE node NOT IN (SELECT node FROM {acc})),
a{k} AS (SELECT * FROM {acc} UNION ALL SELECT * FROM f{k})""")
        acc = f"a{k}"
    body = ",\n".join(rounds)
    return f"""\
WITH pairs AS (
  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs),
d0 AS (
  SELECT DISTINCT src AS node, 0 AS dist FROM edges
  WHERE src IN ({seeds})),
{body}
SELECT dist, COUNT(*) AS n_nodes, MIN(node) AS first_node
FROM {acc}
GROUP BY dist"""


register("graph_bfs_layers", graph_bfs_layers, _bfs_sql())


# ---------------------------------------------------------------------------
# graph_degree_histogram — the degree distribution of the purchase graph,
# bucketed by ORDER OF MAGNITUDE via decimal digit count (length of the
# integer's string — exact, unlike floor(log10) whose libm last-ulp can
# straddle a bucket edge cross-engine).  Degree distributions are how a
# pipeline detects graph pathologies (super-nodes that will skew every
# downstream join) before running iterative algorithms; the histogram
# reduces node-count rows, never edges.
# ---------------------------------------------------------------------------


def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = purchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    side = F.substring("src", 1, 1)  # 'c' / 's' — bipartite side
    magnitude = F.length(F.col("__deg").cast("string")).cast("int")
    return (
        deg.groupBy(side.alias("side"), magnitude.alias("degree_digits"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("__deg").alias("min_degree"),
            F.max("__deg").alias("max_degree"),
        )
    )


GRAPH_DEGREE_HISTOGRAM_SQL = """\
WITH pairs AS (
  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (
  SELECT c AS src FROM pairs
  UNION ALL
  SELECT s AS src FROM pairs),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)
SELECT substr(src, 1, 1) AS side,
       CAST(length(CAST(d AS VARCHAR)) AS INT) AS degree_digits,
       COUNT(*) AS n_nodes,
       MIN(d) AS min_degree,
       MAX(d) AS max_degree
FROM deg
GROUP BY 1, 2"""


register("graph_degree_histogram", graph_degree_histogram, GRAPH_DEGREE_HISTOGRAM_SQL)


# ---------------------------------------------------------------------------
# graph_kcore — k-core decomposition by iterative peeling over the shared
# degree-capped kNN co-purchase graph: each round removes every node whose
# symmetric degree is below KCORE_K, reports (round, n_removed,
# n_remaining), and re-derives degrees over the surviving edges.  The
# output is the peel TRACE — a final round with n_removed = 0 certifies
# convergence to the k-core on this data; a non-zero last row documents the
# bound honestly.  Counting convention: a node whose every incident edge
# dies with a removed neighbor leaves the degree table implicitly (the
# trace counts nodes with ≥1 surviving edge) — the DuckDB oracle replays
# the identical rule round by round as unrolled CTEs.
#
# Scale shape: per round one map-side-combined degree aggregate + two
# anti-joins against the (small) weak-node set, with a localCheckpoint
# barrier so the shrinking edge table doesn't re-derive per round — the
# same bounded-iteration discipline as graph_bfs_layers / graph_pagerank.
# ---------------------------------------------------------------------------

# K must exceed the kNN degree floor or the peel is vacuous: every node of
# the top-8 union graph has symmetric degree >= 8, so a 3-core removes
# nothing. K = 12 sits between the floor (8) and the cap region (~16), so
# round 1 peels the low-overlap nodes and the cascade is visible in the
# trace.
KCORE_K = 12
KCORE_ROUNDS = 4


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round 13: every per-round localCheckpoint here is LAZY (eager=False).
    # The plan truncation — the reason the checkpoints exist (lineage stays
    # O(1) over rounds) — happens at .localCheckpoint() call time in both
    # modes; eager=True additionally runs a blocking count() job per call,
    # which serialized this loop into ~8 driver-side jobs.  Lazy, the whole
    # peel executes as ONE job at the final action, each intermediate RDD
    # still persisted (so deg's two readers compute it once).  Measured A/B
    # at sf0.1: 3.2-4.5 → 2.2-2.9 s warm, identical trace.  The fixed round
    # count (no data-dependent driver branch) is what makes lazy legal —
    # loops that COUNT per round to decide convergence must stay eager.
    edges = knn_copurchase_edges(spark, sf_dir)
    # Round 14 (verdict r13 #3 — the graph family ran FASTER at 8 cores
    # than 32): the peel's working set inherited 2× the session's shuffle
    # width from the union (64 partitions of a ~7 MB symmetric edge list at
    # sf0.1), so every per-round stage paid 64-task scheduling for
    # microseconds of work each.  Size the working partitioning by MEASURED
    # bytes (~32 MB/partition, the connected_components loop's precedent,
    # guide §2.2: partitions sized by data, not by core count), clamped to
    # the session width — the count is one cheap scan of the persisted edge
    # table, and coalesce merges without a shuffle.  At 100 TB the same
    # formula yields a wide peel; at bench scale it collapses the tiny
    # stages (interleaved A/B at sf0.1: 3.0-3.5 → 1.2-1.35 s, trace
    # identical; dropping the deg checkpoint instead was measured WORSE
    # unsized, 5.0-5.2 s, and only marginally better sized — kept for the
    # single per-round aggregate).
    n_edges = edges.count()
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_work = work_partitions(2 * n_edges, 24, session_parts)
    cur = (
        edges.select("a", "b")
        .unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .coalesce(n_work)
        .localCheckpoint(eager=False)
    )
    trace = None
    for r in range(1, KCORE_ROUNDS + 1):
        # deg is checkpointed (node-sized, tiny): the trace row AND the weak
        # set both read it, so the heavy per-round degree aggregate runs
        # ONCE — without this the trace rows re-derive every round's degrees
        # from the edge checkpoints at collect time (measured ~2× the agg
        # work at sf0.1)
        deg = (
            cur.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .localCheckpoint(eager=False)
        )
        # COALESCE: once the graph peels empty, SUM over the empty degree
        # table is NULL — the trace contract promises 0 rows, not NULLs
        row = deg.agg(
            F.coalesce(
                F.sum(F.when(F.col("deg") < KCORE_K, 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(
                F.sum(F.when(F.col("deg") >= KCORE_K, 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_remaining"),
        ).select(F.lit(r).cast("int").alias("round"), "n_removed", "n_remaining")
        trace = row if trace is None else trace.unionByName(row)
        if r < KCORE_ROUNDS:
            # no broadcast hint: the weak set is node-sized and round-1 can
            # remove a large fraction of a real graph — AQE broadcasts it
            # when it measures small and shuffles it when it isn't
            weak = deg.filter(F.col("deg") < KCORE_K).select(F.col("a").alias("w"))
            cur = (
                cur.join(weak, cur.a == F.col("w"), "left_anti")
                .join(weak, cur.b == F.col("w"), "left_anti")
                .localCheckpoint(eager=False)
            )
    return trace


def _kcore_sql() -> str:
    k = KCORE_K
    # every chained CTE is AS MATERIALIZED (DuckDB-only syntax; this SQL is
    # the oracle, Spark never sees it): each sym{r}/deg{r} is referenced
    # twice, and DuckDB's default CTE INLINING then duplicates the whole
    # upstream pipeline per reference — 2^rounds copies of the kNN-edge
    # build, which is what actually spilled >55 GB at sf0.3 (each round's
    # subquery runs in ~5 s alone).  Materialization makes the oracle replay
    # the peel exactly once per round, like the Spark side's checkpoints.
    parts = [f"WITH {_KNN_EDGES_CTES},"]
    parts.append(
        "sym0 AS MATERIALIZED (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),"
    )
    rows = []
    for r in range(1, KCORE_ROUNDS + 1):
        i = r - 1
        parts.append(
            f"deg{r} AS MATERIALIZED (SELECT a, COUNT(*) AS d FROM sym{i} GROUP BY a),"
        )
        parts.append(
            f"r{r} AS (SELECT {r} AS round,\n"
            f"  CAST(COALESCE(SUM(CASE WHEN d < {k} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed,\n"
            f"  CAST(COALESCE(SUM(CASE WHEN d >= {k} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_remaining\n"
            f"  FROM deg{r}),"
        )
        if r < KCORE_ROUNDS:
            parts.append(
                f"weak{r} AS MATERIALIZED (SELECT a AS w FROM deg{r} WHERE d < {k}),"
            )
            # anti-join, not NOT IN: weak keys are never NULL, so the forms
            # are equivalent — but DuckDB materializes NOT IN per outer row
            # (the sf0.3 sweep blew 55 GB of temp on it) while the LEFT
            # JOIN ... IS NULL form stays a pair of hash joins
            parts.append(
                f"sym{r} AS MATERIALIZED (SELECT s.a, s.b FROM sym{i} s\n"
                f"  LEFT JOIN weak{r} wa ON wa.w = s.a\n"
                f"  LEFT JOIN weak{r} wb ON wb.w = s.b\n"
                f"  WHERE wa.w IS NULL AND wb.w IS NULL),"
            )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST(round AS INT) AS round, n_removed, n_remaining FROM r{r}"
        for r in range(1, KCORE_ROUNDS + 1)
    )
    body = "\n".join(parts)
    return f"{body[:-1]}\n{union}" if body.endswith(",") else f"{body}\n{union}"


register("graph_kcore", graph_kcore, _kcore_sql())


# ---------------------------------------------------------------------------
# graph_label_propagation — semi-supervised LPA over the customer↔supplier
# graph: every 10th supplier is a CLAMPED seed (label = its own node id);
# each synchronous round, every non-seed node adopts the MAJORITY label of
# its labeled neighbors (count DESC, label ASC tie-break — fully
# deterministic, the reason this LPA is oracle-checkable while classic
# random-order LPA is not).  Distinct from dedup_cluster_cc's min-label CC:
# labels spread only from seeds, non-seeds re-vote every round (can flip),
# and the result is a seed-community partition, not connected components.
#
# Scale shape: per round one fact-free join of the (persisted, src-
# partitioned) edge list against the node-sized label table, one count
# aggregate, one row_number cut — all map-side-combinable.  Only the seed
# table is checkpointed (lazily, once); the labels are NOT checkpointed per
# round: with a fixed LPA_ROUNDS each round reads the previous labels once,
# so the plan grows linearly and there is no re-derivation to cut.
# The oracle unrolls the LPA_ROUNDS rounds as window-function CTEs.
# ---------------------------------------------------------------------------

LPA_ROUNDS = 2  # bipartite graph: round 1 reaches customers, round 2 suppliers
LPA_SEED_MOD = 10


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    edges = purchase_edges(spark, sf_dir)
    # seeds checkpointed LAZY once (~5 readers across the rounds; round 13
    # made it lazy — the fixed round count means no driver branch needs a
    # blocking count).  Round 14 dropped the per-round LABEL checkpoints —
    # see the loop comment below.
    seeds = (
        load_table(spark, "supplier", sf_dir)
        .filter(F.col("s_suppkey") % LPA_SEED_MOD == 0)
        .select(F.concat(F.lit("s:"), F.col("s_suppkey")).alias("node"))
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=False)
    )
    labels = seeds
    for _ in range(LPA_ROUNDS):
        contrib = edges.join(labels, edges.src == labels.node).select("dst", "lbl")
        counts = contrib.groupBy("dst", "lbl").agg(F.count(F.lit(1)).alias("__n"))
        w = W.partitionBy("dst").orderBy(F.desc("__n"), F.asc("lbl"))
        winners = (
            counts.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(F.col("dst").alias("node"), "lbl")
        )
        # NOT checkpointed per round (round 14): each round references the
        # previous labels exactly once, so the final plan inlines the fixed
        # LPA_ROUNDS pipeline linearly — there is no multiplicative
        # re-derivation for a checkpoint to cut, and each per-round
        # checkpoint cost a full plan+AQE resolution pass at construction
        # (interleaved A/B at sf0.1: 3.1-3.2 → 2.6-2.7 s, identical
        # communities).  seeds (~5 readers) stays checkpointed above.
        labels = seeds.unionByName(
            winners.join(seeds.select("node"), "node", "left_anti")
        )
    return labels.groupBy("lbl").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.expr("CASE WHEN node LIKE 'c:%' THEN 1 ELSE 0 END")).alias(
            "n_customers"
        ),
        F.sum(F.expr("CASE WHEN node LIKE 's:%' THEN 1 ELSE 0 END")).alias(
            "n_suppliers"
        ),
        F.min("node").alias("first_member"),
    )


def _lpa_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        rounds.append(f"""\
c{i} AS (
  SELECT e.dst, l.lbl, COUNT(*) AS n
  FROM edges e JOIN {prev} l ON l.node = e.src
  GROUP BY 1, 2),
w{i} AS (
  SELECT dst AS node, lbl,
         ROW_NUMBER() OVER (PARTITION BY dst ORDER BY n DESC, lbl ASC) AS rk
  FROM c{i}),
l{i} AS (
  SELECT node, lbl FROM seeds_l
  UNION ALL
  SELECT node, lbl FROM w{i}
  WHERE rk = 1 AND node NOT IN (SELECT node FROM seeds_l))""")
        prev = f"l{i}"
    body = ",\n".join(rounds)
    return f"""\
WITH pairs AS (
  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs),
seeds_l AS (
  SELECT 's:' || s_suppkey AS node, 's:' || s_suppkey AS lbl
  FROM supplier WHERE s_suppkey % {LPA_SEED_MOD} = 0),
l0 AS (SELECT node, lbl FROM seeds_l),
{body}
SELECT lbl,
       COUNT(*) AS n_members,
       CAST(SUM(CASE WHEN node LIKE 'c:%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_customers,
       CAST(SUM(CASE WHEN node LIKE 's:%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suppliers,
       MIN(node) AS first_member
FROM {prev}
GROUP BY lbl"""


register("graph_label_propagation", graph_label_propagation, _lpa_sql())


# ---------------------------------------------------------------------------
# graph_common_neighbors — link prediction over the degree-capped kNN
# co-purchase graph: for every NON-edge pair at distance 2, the common-
# neighbor count and neighborhood Jaccard (exact bps: cn·10⁴ DIV
# (deg_p + deg_q − cn)); top-20 by (cn DESC, p, q).  The classic
# recommender primitive ("parts bought together with the same partners but
# never together").  The wedge join runs on the SAME capped symmetric edge
# list as graph_triangles (degree ≤ 2·TRI_KNN ⇒ wedge fan-out bounded per
# node forever), candidates are filtered by an anti-join against the
# oriented edge set, and degrees broadcast-join in.  All-integer outputs.
# ---------------------------------------------------------------------------

CN_TOP_K = 20


def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = knn_copurchase_edges(spark, sf_dir)
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # deg feeds both the dp and dq joins (2× evaluation without a
    # checkpoint); the saturated-host A/B measured the lazy checkpoint
    # 12-15% faster under load (plain 5.2-6.0 s vs 4.4-5.2 s, identical
    # top-K) and a wash quiet — see graph_pagerank (round 14, verdict
    # r13 #5)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=False
    )
    s1 = sym.select(F.col("b").alias("z"), F.col("a").alias("p"))
    s2 = sym.select(F.col("b").alias("z2"), F.col("a").alias("q"))
    cand = (
        s1.join(s2, (F.col("z") == F.col("z2")) & (F.col("p") < F.col("q")))
        .groupBy("p", "q")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = cand.join(
        edges,
        (cand.p == edges.a) & (cand.q == edges.b),
        "left_anti",
    )
    dp = deg.select(F.col("a").alias("p"), F.col("deg").alias("__dp"))
    dq = deg.select(F.col("a").alias("q"), F.col("deg").alias("__dq"))
    return (
        nonedge.join(dp, "p")
        .join(dq, "q")
        .select(
            "p",
            "q",
            "cn",
            (F.col("__dp") + F.col("__dq") - F.col("cn")).alias("union_deg"),
            F.expr("cn * 10000 DIV (__dp + __dq - cn)").alias("jaccard_bps"),
        )
        .orderBy(F.desc("cn"), F.asc("p"), F.asc("q"))
        .limit(CN_TOP_K)
    )


GRAPH_COMMON_NEIGHBORS_SQL = f"""\
WITH {_KNN_EDGES_CTES},
sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
deg AS (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),
cand AS (
  SELECT s1.a AS p, s2.a AS q, COUNT(*) AS cn
  FROM sym s1 JOIN sym s2 ON s1.b = s2.b AND s1.a < s2.a
  GROUP BY 1, 2),
nonedge AS (
  SELECT c.p, c.q, c.cn
  FROM cand c LEFT JOIN edges e ON e.a = c.p AND e.b = c.q
  WHERE e.a IS NULL)
SELECT n.p, n.q, n.cn,
       dp.d + dq.d - n.cn                                  AS union_deg,
       CAST(n.cn * 10000 // (dp.d + dq.d - n.cn) AS BIGINT) AS jaccard_bps
FROM nonedge n
JOIN deg dp ON dp.a = n.p
JOIN deg dq ON dq.a = n.q
ORDER BY n.cn DESC, n.p ASC, n.q ASC
LIMIT {CN_TOP_K}"""


register("graph_common_neighbors", graph_common_neighbors, GRAPH_COMMON_NEIGHBORS_SQL)


# ---------------------------------------------------------------------------
# graph_clustering_coeff — local + global clustering coefficients of the
# degree-capped kNN co-purchase graph: how clique-like is each product's
# neighborhood?  (The missing member of this module's descriptive family —
# triangles count CLOSURE, degree_histogram counts CONNECTIVITY; the
# clustering coefficient is their ratio.)  Local coefficient of node x is
# 2·t(x)/(d(x)·(d(x)−1)) — triangles through x over wedges centered at x —
# emitted at exact 1e-6 fixed point (Spark DIV ≡ DuckDB // truncation on
# integers); global transitivity is Σt / Σwedges on the same scale.  The
# one-row report hashes n_nodes / Σwedges / Σclosed / transitivity / mean
# local coefficient, so any miscounted wedge or triangle flips the compare.
# Scale: the kNN edge list caps degree at 2·TRI_KNN, so wedge and triangle
# fan-outs are bounded per node and all counts stay minuscule beside int64
# at any corpus size; the session-cached edge table is shared with
# graph_triangles/graph_kcore (first family consumer pays the build).
# Ref parity note: the reference engine has no graph surface at all
# (SURVEY.md §2.3 extension row).
# ---------------------------------------------------------------------------


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = knn_copurchase_edges(spark, sf_dir)
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    e2 = edges.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = (
        edges.join(e2, F.col("b") == F.col("b2"))
        .select("a", "b", "c")
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    t_per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    local = (
        deg.filter(F.col("d") >= 2)
        .join(t_per_node, "a", "left")
        .select(
            "d",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        )
        .select(
            "t",
            F.expr("d * (d - 1) DIV 2").alias("wedges"),
            F.expr("2 * t * 1000000 DIV (d * (d - 1))").alias("local_e6"),
        )
    )
    return local.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("wedges").alias("n_wedges"),
        F.sum("t").alias("n_closed"),
        F.expr("sum(t) * 1000000 DIV sum(wedges)").alias("transitivity_e6"),
        F.expr("sum(local_e6) DIV count(1)").alias("mean_local_e6"),
    )


GRAPH_CLUSTERING_COEFF_SQL = f"""\
WITH {_KNN_EDGES_CTES},
sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
tris AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
tpn AS (
  SELECT pk AS a, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT unnest([a, b, c]) AS pk FROM tris)
  GROUP BY pk),
loc AS (
  SELECT COALESCE(t.t, 0) AS t,
         d.d * (d.d - 1) // 2 AS wedges,
         2 * COALESCE(t.t, 0) * 1000000 // (d.d * (d.d - 1)) AS local_e6
  FROM deg d LEFT JOIN tpn t USING (a)
  WHERE d.d >= 2)
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(wedges) AS BIGINT) AS n_wedges,
       CAST(SUM(t) AS BIGINT) AS n_closed,
       CAST(SUM(t) AS BIGINT) * 1000000 // CAST(SUM(wedges) AS BIGINT)
         AS transitivity_e6,
       CAST(SUM(local_e6) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
         AS mean_local_e6
FROM loc"""


register("graph_clustering_coeff", graph_clustering_coeff, GRAPH_CLUSTERING_COEFF_SQL)


# ---------------------------------------------------------------------------
# graph_resource_alloc — RESOURCE-ALLOCATION link prediction (Zhou/Lü/Zhang):
# RA(p,q) = Σ_{z ∈ N(p)∩N(q)} 1/deg(z).  Common-neighbor COUNTS (above)
# treat a 2-degree bridge and a 500-degree hub as equal evidence; RA
# downweights hubs by each shared neighbor's degree — the standard fix, and
# the member of the Adamic-Adar family that stays EXACT in integers
# (1/log deg needs a transcendental; 1/deg is one truncating division per
# shared neighbor: Σ (10⁶ DIV deg z), identical in both engines).
# Same scale shape as graph_common_neighbors: wedge self-join on the
# degree-capped kNN edge index (never all-pairs — the cap bounds per-node
# fan-out), anti-join to keep non-edges, top-K by score.
# ---------------------------------------------------------------------------

RA_TOP_K = 20


def graph_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = knn_copurchase_edges(spark, sf_dir)
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    zdeg = deg.select(F.col("a").alias("z"), F.col("deg").alias("zdeg"))
    s1 = sym.select(F.col("b").alias("z"), F.col("a").alias("p"))
    s2 = sym.select(F.col("b").alias("z"), F.col("a").alias("q"))
    wedges = s1.join(s2, "z").filter(F.col("p") < F.col("q"))
    scored = (
        wedges.join(zdeg, "z")
        .groupBy("p", "q")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.expr("1000000 DIV zdeg")).alias("ra_e6"),
        )
    )
    nonedge = scored.join(
        edges,
        (scored.p == edges.a) & (scored.q == edges.b),
        "left_anti",
    )
    return nonedge.select("p", "q", "cn", "ra_e6").orderBy(
        F.desc("ra_e6"), F.asc("p"), F.asc("q")
    ).limit(RA_TOP_K)


GRAPH_RESOURCE_ALLOC_SQL = f"""\
WITH {_KNN_EDGES_CTES},
sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
deg AS (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),
wedges AS (
  SELECT s1.a AS p, s2.a AS q, s1.b AS z
  FROM sym s1 JOIN sym s2 ON s1.b = s2.b AND s1.a < s2.a),
scored AS (
  SELECT w.p, w.q,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(1000000 // dz.d) AS BIGINT) AS ra_e6
  FROM wedges w JOIN deg dz ON dz.a = w.z
  GROUP BY w.p, w.q),
nonedge AS (
  SELECT s.p, s.q, s.cn, s.ra_e6
  FROM scored s LEFT JOIN edges e ON e.a = s.p AND e.b = s.q
  WHERE e.a IS NULL)
SELECT p, q, cn, ra_e6 FROM nonedge
ORDER BY ra_e6 DESC, p ASC, q ASC
LIMIT {RA_TOP_K}"""


register("graph_resource_alloc", graph_resource_alloc, GRAPH_RESOURCE_ALLOC_SQL)
