"""sf1 overflow/scale sweep (round-7 verdict ask #3).

Runs a targeted query set against the in-repo sf1 dataset built by
scripts/scaleup.py (10× sf0.1, key-offset replication) and compares each
Spark result against its DuckDB oracle EXACTLY — the same zero-tolerance
contract as the driver, but at 6M lineitem / 1M events where latent int64
fixed-point products and window-state ceilings actually fire.  The runtime
is ANSI-on Spark 4.x, so any silent-wrap candidate raises
ARITHMETIC_OVERFLOW instead of corrupting the hash — completion IS the
overflow canary (round 6 caught rel_share_of_parent exactly this way).

Set composition: the bench top-20 slowest (iterative/ANN/streaming — the
memory+state ceilings) plus every fixed-point/bps-arithmetic query (the
int64-product ceilings) plus the Φ goldens (reference-parity surface).

The SPARK side is the sweep's subject; the DuckDB oracle at sf1 is a bonus
check that can itself be infeasible (the unrolled iterative-graph oracles
spilled >80 GB of temp on the first attempt), so oracles run under a memory
cap + wall-clock timeout and an infeasible oracle records
``spark_ok_oracle_skipped`` — only a SPARK failure (overflow, OOM, wrong
result where the oracle did finish) fails the sweep.

Writes SCALE_sf1.json (bench-shaped, per-query seconds + verdicts).

Usage: python scripts/scale_sweep.py [name ...]   (default: the curated set)
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

# this checkout's root, so a copy of the repo imports its own package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("CROSSCHECK_SF_DIR", os.path.join(ROOT, ".scaledata", "sf1"))

import duckdb
import pandas as pd

SF_DIR = os.environ["CROSSCHECK_SF_DIR"]
ORACLE_TIMEOUT_S = int(os.environ.get("SCALE_ORACLE_TIMEOUT_S", "150"))


def _parse_sf(sf_dir: str) -> float:
    """Best-effort scale factor from the data dir name.  Defensive: a
    nonconforming name (e.g. /tmp/mydata) must NOT raise at the very end
    of a long sweep and discard completed evidence — fall back to 1.0."""
    import re

    m = re.search(r"sf([0-9]*\.?[0-9]+)", os.path.basename(sf_dir.rstrip("/")))
    try:
        return float(m.group(1)) if m else 1.0
    except ValueError:  # pragma: no cover - regex already constrains this
        return 1.0


def scale_oracles() -> dict[str, str]:
    """sf1-feasible SCALE-TIER oracles for the iterative-graph queries whose
    driver oracles are deliberately naive and blow up at sf1 (the recursive
    transitive-closure walk's row count grows with Σ component², and the
    chained-CTE BFS re-inlines the edge build per round — the kcore
    AS MATERIALIZED lesson).  These mirror the Spark round structure
    (min-label + pointer-jump / frontier expansion) with every per-round CTE
    AS MATERIALIZED, so sf1 exact-compare becomes feasible.  They share the
    FORMULATION with the Spark side, which is why they are used ONLY here:
    the driver-scale oracles in the operator modules keep their independent
    textbook forms (the real correctness check), and this tier then verifies
    the same numbers still come out at 10× bench scale.
    """
    from ad_hoc_olap_query_processing_engine_spark.operators.dedup import (
        _minhash_ctes,
    )
    from ad_hoc_olap_query_processing_engine_spark.operators.graph import (
        BFS_ROUNDS,
        BFS_SEEDS,
    )

    # dedup_cluster_cc: unrolled min-label propagation + pointer jumping,
    # node-sized label tables per round (extra rounds after the fixpoint are
    # idempotent, so a fixed unroll equals Spark's early-breaking loop as
    # long as BOTH formulations have converged).  16 rounds is plenty for
    # the sf1 dup graph (near-clique components converge in ~3); Spark's
    # CC_MAX_ROUNDS is a much larger SAFETY cap for adversarial chain
    # shapes and is deliberately not mirrored here — 64 materialized
    # rounds would quadruple the oracle's work for identical output.
    CC_ORACLE_ROUNDS = 16
    cc_rounds = []
    prev = "lab0"
    for r in range(1, CC_ORACLE_ROUNDS + 1):
        cc_rounds.append(f"""\
prop{r} AS MATERIALIZED (
  SELECT e.u, MIN(p.l) AS pl FROM edges e JOIN {prev} p ON p.u = e.v GROUP BY e.u),
step{r} AS MATERIALIZED (
  SELECT b.u, LEAST(b.l, COALESCE(p.pl, b.l)) AS l
  FROM {prev} b LEFT JOIN prop{r} p USING (u)),
lab{r} AS MATERIALIZED (
  SELECT s.u, LEAST(s.l, COALESCE(t.l, s.l)) AS l
  FROM step{r} s LEFT JOIN step{r} t ON s.l = t.u)""")
        prev = f"lab{r}"
    cc_body = ",\n".join(cc_rounds)
    cc_sql = f"""\
WITH {_minhash_ctes()},
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM vpairs
  UNION ALL
  SELECT doc_b, doc_a FROM vpairs),
lab0 AS MATERIALIZED (
  SELECT u, LEAST(u, MIN(v)) AS l FROM edges GROUP BY u),
{cc_body},
cc AS (SELECT u AS doc_id, l AS cluster_id FROM {prev}),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id,
       CAST(c.doc_id = c.cluster_id AS INT) AS is_keeper,
       s.cluster_size
FROM cc c JOIN sizes s USING (cluster_id)
WHERE (SELECT CASE WHEN EXISTS (
         SELECT 1 FROM lab{CC_ORACLE_ROUNDS} a
         JOIN lab{CC_ORACLE_ROUNDS - 1} b ON a.u = b.u AND a.l <> b.l)
       THEN error('cc oracle under-converged at {CC_ORACLE_ROUNDS} rounds')
       ELSE TRUE END)"""
    # The WHERE guard (round-11 advice): a fixed {CC_ORACLE_ROUNDS}-round
    # unroll can under-converge on adversarial chain shapes (shuffled paths
    # from the LSH bucket-window cap need ~18 rounds at 60 nodes); asserting
    # the last two rounds' labels agree turns a silent spurious MISMATCH
    # into a loud oracle error naming the real cause.

    # graph_bfs_layers: same frontier unroll as the driver oracle, but with
    # pairs/edges/every round MATERIALIZED and the visited-set test as an
    # anti-join instead of NOT IN (the kcore fix, applied to BFS).
    seeds = ", ".join(f"'{s}'" for s in BFS_SEEDS)
    bfs_rounds = []
    acc = "d0"
    for k in range(1, BFS_ROUNDS + 1):
        prev_front = "d0" if k == 1 else f"f{k - 1}"
        bfs_rounds.append(f"""\
f{k} AS MATERIALIZED (
  SELECT r.node, {k} AS dist FROM (
    SELECT DISTINCT e.dst AS node
    FROM edges e JOIN {prev_front} p ON e.src = p.node) r
  ANTI JOIN {acc} a ON a.node = r.node),
a{k} AS MATERIALIZED (SELECT * FROM {acc} UNION ALL SELECT * FROM f{k})""")
        acc = f"a{k}"
    bfs_body = ",\n".join(bfs_rounds)
    bfs_sql = f"""\
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT 'c:' || o_custkey AS c, 's:' || l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs),
d0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, 0 AS dist FROM edges
  WHERE src IN ({seeds})),
{bfs_body}
SELECT dist, COUNT(*) AS n_nodes, MIN(node) AS first_node
FROM {acc}
GROUP BY dist"""

    # phi_q4: the driver oracle is sqlgen's deliberately NAIVE join-agg
    # program — O(|sales|·|groups|) by construction, infeasible past sf0.01
    # and the whole point at driver scale (it proves the optimized plan
    # against the textbook semantics).  The scale tier instead states the
    # FUSED complement identity the Spark WINDOW(anti) strategy uses:
    # avg over OTHER customers of the same prod = (Σ_prod − Σ_own) /
    # (n_prod − n_own), NULL when no other customer sold the prod.  Integer
    # sums subtract exactly; the final double divisions of exact ints are
    # bit-identical cross-engine.
    from ad_hoc_olap_query_processing_engine_spark.sources.catalog import (
        SALES_VIEW_SQL,
    )

    phi_q4_sql = f"""\
WITH sales AS ({SALES_VIEW_SQL}),
g AS (SELECT cust, prod,
             CAST(SUM(quant) AS BIGINT) AS s1,
             CAST(COUNT(quant) AS BIGINT) AS c1
      FROM sales GROUP BY cust, prod),
p AS (SELECT prod,
             CAST(SUM(quant) AS BIGINT) AS sp,
             CAST(COUNT(quant) AS BIGINT) AS cp
      FROM sales GROUP BY prod)
SELECT g.cust, g.prod,
       CAST(g.s1 AS DOUBLE) / g.c1 AS avg_quant_sale,
       CASE WHEN p.cp - g.c1 = 0 THEN NULL
            ELSE CAST(p.sp - g.s1 AS DOUBLE) / (p.cp - g.c1) END
         AS avg_quant_othrcustsale
FROM g JOIN p USING (prod)"""

    # pipe_corpus_filter: same materialized CC core as dedup_cluster_cc
    # (the registered oracle's recursive walk emits Σ component² rows — the
    # 10-clone sf1 groups push it past any budget), composed with the
    # registered quality CTE; only the walk formulation changes.
    from ad_hoc_olap_query_processing_engine_spark.operators.text import (
        TEXT_QUALITY_SQL,
    )

    corpus_filter_sql = f"""\
WITH {_minhash_ctes()},
edges AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM vpairs
  UNION ALL
  SELECT doc_b, doc_a FROM vpairs),
lab0 AS MATERIALIZED (
  SELECT u, LEAST(u, MIN(v)) AS l FROM edges GROUP BY u),
{cc_body},
nonkeep AS (SELECT u AS doc_id FROM {prev} WHERE u <> l),
q AS ({TEXT_QUALITY_SQL})
SELECT d.doc_id, d.lang, q.n_tokens
FROM documents d
JOIN q ON q.doc_id = d.doc_id
WHERE q.keep AND d.doc_id NOT IN (SELECT doc_id FROM nonkeep)"""

    # graph_resource_alloc: identical formulation to the driver oracle, but
    # with every multiply-referenced CTE AS MATERIALIZED (the kcore lesson:
    # DuckDB INLINES referenced CTEs — `edges` appears in sym twice plus the
    # anti-join, so the whole co-purchase self-join re-ran per reference and
    # spilled >42 GB at sf1).
    from ad_hoc_olap_query_processing_engine_spark.operators.graph import (
        RA_TOP_K,
        TRI_KNN,
    )

    resource_alloc_sql = f"""\
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
pairs AS MATERIALIZED (
  SELECT i1.pk AS a, i2.pk AS b, COUNT(*) AS cnt
  FROM items i1 JOIN items i2 ON i1.ok = i2.ok AND i1.pk < i2.pk
  GROUP BY 1, 2),
nbrs AS MATERIALIZED (
  SELECT a AS x, b AS y, cnt FROM pairs
  UNION ALL SELECT b, a, cnt FROM pairs),
edges AS MATERIALIZED (
  SELECT DISTINCT LEAST(x, y) AS a, GREATEST(x, y) AS b
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY x ORDER BY cnt DESC, y ASC) AS rn
        FROM nbrs)
  WHERE rn <= {TRI_KNN}),
sym AS MATERIALIZED (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
deg AS MATERIALIZED (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),
wedges AS MATERIALIZED (
  SELECT s1.a AS p, s2.a AS q, s1.b AS z
  FROM sym s1 JOIN sym s2 ON s1.b = s2.b AND s1.a < s2.a),
scored AS MATERIALIZED (
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

    return {
        "dedup_cluster_cc": cc_sql,
        "graph_bfs_layers": bfs_sql,
        "phi_q4": phi_q4_sql,
        "pipe_corpus_filter": corpus_filter_sql,
        "graph_resource_alloc": resource_alloc_sql,
    }


def _oracle_df(con, sql: str) -> pd.DataFrame:
    """Run an oracle with a wall-clock timeout (DuckDB has no statement
    timeout; interrupt() from a watchdog thread is the documented recipe)."""
    out: dict = {}

    def target() -> None:
        try:
            out["df"] = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 — re-raised on the main thread
            out["err"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(ORACLE_TIMEOUT_S)
    if t.is_alive():
        con.interrupt()
        t.join(30)
        raise TimeoutError(f"oracle exceeded {ORACLE_TIMEOUT_S}s")
    if "err" in out:
        raise out["err"]
    return out["df"]

# bench top-20 slowest at sf0.1 (BENCH_r07) — state/memory ceilings
SLOWEST = [
    "graph_kcore",
    "sim_recall_report",
    "dedup_cluster_cc",
    "graph_bfs_layers",
    "sim_ivfpq_ann",
    "src_pyds_docstats",
    "udf_cogroup_latency",
    "ts_ewma",
    "dedup_embedding",
    "graph_pagerank",
    "ts_lttb",
    "sim_pq_ann",
    "sim_ivf_kmeans",
    "dedup_containment",
    "stream_approx_ndv",
    "rel_hierarchy_rollup",
    "stream_stream_join",
    "embed_pca_project",
    "stream_stream_outer",
    "cdc_changelog_apply",
]
# fixed-point / bps / big-integer-product arithmetic — overflow ceilings
FIXED_POINT = [
    "rel_share_of_parent",
    "rel_yoy_growth",
    "rel_status_transitions",
    "text_charset_profile",
    "func_quantile_rollup",
    "rel_market_share",
    "rel_pareto_coverage",
    "rel_weighted_median",
    "rel_nation_concentration",
    "text_diversity",
    "pipe_bootstrap_ci",
    "rel_decile_spend",
    "func_percentile_disc",
    "pipe_ccnet_buckets",
    "text_bigram_lm",
    "rel_basket_affinity",
    "rel_attribution",
    "rel_pricing_summary",
    "rel_cohort_ltv",
    "rel_running_spend",
    "ts_clamped_balance",
    "rel_rolling_distinct",
    "text_trigram_lm",
    "rel_incremental_agg",
    "func_bitmap_rollup",
    "rel_bitmap_distinct",
]
GOLDENS = [f"phi_q{i}" for i in range(1, 11)]
# round-8 session-2 additions — all carry fixed-point / DECIMAL(38,0) paths
# or bounded-iteration shapes worth re-proving at sf1 on every full sweep
ROUND8_LATE = [
    "rel_skyline",
    "rel_benford_check",
    "ts_rolling_zscore",
    "pipe_dp_noise",
    "rel_mann_whitney",
    "rel_gini_spend",
    "graph_clustering_coeff",
    "ts_trend_ols",
    "ts_runs_test",
    "embed_hubness_report",
]
# round-9 additions + the dedup family whose sf1 outputs changed under the
# LSH mega-bucket cap (refresh the exact evidence at the capped contract)
ROUND9 = [
    "sim_ivf_kmeans",
    "embed_gram_matrix",
    "func_countmin_sketch",
    "pipe_epoch_shuffle",
    "text_ngram_novelty",
    "dedup_edit_distance",
    "rel_position_attribution",
    "ts_lag_features",
    "mm_chunk_manifest",
    "graph_resource_alloc",
    "dedup_minhash_lsh",
    "dedup_lsh_recall_report",
    "pipe_corpus_filter",
]
DEFAULT_SET = list(
    dict.fromkeys(SLOWEST + FIXED_POINT + GOLDENS + ROUND8_LATE + ROUND9)
)


def main() -> None:
    from scripts.crosscheck import canon, lint_oracle_types
    import __spark_entry__ as entry
    from ad_hoc_olap_query_processing_engine_spark.oracle_lint import TABLES
    from ad_hoc_olap_query_processing_engine_spark.session import get_spark

    # --all-spark-only: run EVERY registered query at sf1, Spark side only
    # (completion/overflow proof for the whole registry; oracles skipped) —
    # results go to SCALE_sf1_full.json instead of the curated-sweep file.
    spark_only = "--all-spark-only" in sys.argv
    # --spark-digest (round-14 queue): collect evidence SPARK-SIDE for
    # spark-only probes — one agg job computing (count, Σ xxhash64(row)) —
    # instead of toPandas.  The sf100 minhash row was ~95% driver-side
    # materialization of a 148.9M-row pair list; with the digest the cold
    # `sec` measures Spark work, and the digest is an order-independent,
    # multiplicity-sensitive fingerprint (sum, not xor: duplicate rows
    # cancel under xor) comparable across re-probes at the same scale.
    spark_digest = "--spark-digest" in sys.argv
    # --family (round-12, verdict ask #6): pre-build the session-scoped
    # family indexes (the warehouse pattern's maintained artifacts —
    # shingle postings, verified pair tables, ANN codebooks) BEFORE timing
    # the queries, so each probe row measures the query's marginal cost and
    # the shared build is reported once under "warmup_sec".  That is the
    # honest 100 TB accounting: the pair table is a maintained artifact,
    # not something every consumer rebuilds.  On merge into an existing
    # evidence file the amortized seconds land as `sec_amortized` NEXT TO
    # the cold `sec`, never replacing it.
    # bare `--family` warms every registered family index; `--family=dedup`
    # (comma-separable) warms only the named operator modules' indexes, so
    # an sf100 dedup probe doesn't pay the ANN codebook builds.
    family = any(a == "--family" or a.startswith("--family=") for a in sys.argv)
    family_mods = None
    for a in sys.argv:
        if a.startswith("--family="):
            family_mods = a.split("=", 1)[1].split(",")
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    names = args or (list(entry.queries()) if spark_only else DEFAULT_SET)
    qs = entry.queries()
    # spark-only probes never read the oracles — skip resolving them (the
    # lazy embed_pca_project oracle scans the embeddings table at the probe
    # scale factor to bake its fit literals; pointless work here).  For a
    # targeted rerun, resolve only the REQUESTED ops' oracles for the same
    # reason (ADVICE r11): registry.oracle_sqls(names) skips unrelated
    # lazy oracles entirely, and the Φ goldens' static SQL is cheap.
    if spark_only:
        oracles = {}
    else:
        from ad_hoc_olap_query_processing_engine_spark.operators import registry
        from ad_hoc_olap_query_processing_engine_spark.phi import (
            all_phi_queries,
            phi_to_sql,
        )
        from ad_hoc_olap_query_processing_engine_spark.sources import catalog

        oracles = {
            n: phi_to_sql(q, relation_sql=catalog.SALES_VIEW_SQL)
            for n, q in all_phi_queries().items()
            if n in names
        }
        oracles.update(registry.oracle_sqls(names))
    overrides = {} if spark_only else scale_oracles()
    oracles.update(overrides)
    for n in overrides:
        if n in names:
            print(f"{n}: using sf1-feasible SCALE-TIER oracle", flush=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Size shuffle partitions from INPUT BYTES, not CPU count (round-11
    # sf100 fix): the session default (max(cpus, 8) = 32) squeezes a
    # 600M-row probe's shuffles through 32 partitions — per-task sort and
    # aggregate footprints grow with bytes/partition until one task's
    # slice of the execution pool can't hold a page and the stage dies
    # with UNABLE_TO_ACQUIRE_MEMORY.  ~32 MB of compressed input per
    # shuffle partition keeps per-task state flat as sf grows (the same
    # arithmetic a cluster operator does from table stats); AQE coalesces
    # the small queries back down, so over-partitioning costs nothing.
    if "SPARK_GRAFT_SHUFFLE_PARTITIONS" not in os.environ:
        input_bytes = sum(
            os.path.getsize(os.path.join(SF_DIR, f))
            for f in os.listdir(SF_DIR)
            if f.endswith(".parquet")
        )
        parts = max(cpus, min(2048, input_bytes // (32 << 20)))
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(parts)
        print(f"shuffle partitions: {parts} ({input_bytes >> 20} MB input)", flush=True)
    # Disk hygiene (round-14 queue): a killed probe JVM leaves its
    # /tmp/blockmgr-* shuffle scratch behind — an orphaned 18 GB dir
    # ENOSPC'd the first r13 probe attempt.  Surface any pre-existing
    # scratch (orphans from dead JVMs) BEFORE creating the session, then
    # print this session's own dir so a later kill is attributable.
    import glob as _glob

    pre = set(_glob.glob("/tmp/blockmgr-*"))
    for d in sorted(pre):
        try:
            sz = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(d)
                for f in fs
            )
        except OSError:
            sz = -1
        print(f"pre-existing blockmgr scratch (orphan?): {d} ({sz >> 20} MB)",
              flush=True)
    spark = get_spark(app_name="scale-sweep", cpus=cpus)
    for d in sorted(set(_glob.glob("/tmp/blockmgr-*")) - pre):
        print(f"this session's blockmgr scratch: {d}", flush=True)
    spark.sparkContext.setLogLevel("ERROR")
    warmup_sec: dict[str, float] | None = None
    if family:
        from ad_hoc_olap_query_processing_engine_spark.operators.warmup import (
            warm_family_indexes,
        )

        t0 = time.time()
        warmup_sec = warm_family_indexes(spark, SF_DIR, modules=family_mods)
        warmup_sec["total"] = round(time.time() - t0, 2)
        print(f"family warmup: {warmup_sec}", flush=True)
    con = duckdb.connect()
    con.sql(f"SET memory_limit = '{os.environ.get('SCALE_ORACLE_MEM', '24GB')}'")
    con.sql(f"SET temp_directory = '{os.path.join(ROOT, '.scaledata', 'duck_tmp')}'")
    con.sql(f"SET max_temp_directory_size = '{os.environ.get('SCALE_ORACLE_TEMP', '40GB')}'")
    if not spark_only:
        # spark-only probes never query the oracle connection; skipping the
        # views also lets a probe run against a PARTIAL data dir (e.g. the
        # sf100 dedup reruns need only the documents table on a disk budget
        # where 600M-row lineitem would crowd out the shuffle spill)
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    results: dict[str, dict] = {}
    failures = []
    for name in names:
        t0 = time.time()
        if spark_only and spark_digest:
            try:
                from pyspark.sql import functions as F

                df = qs[name](spark, SF_DIR)
                # Σ xxhash64(row) fits decimal(38,0) at any feasible row
                # count (2^64 · 2^60 rows < 10^38); ANSI mode would reject
                # a plain BIGINT sum long before that.
                row = df.select(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.xxhash64(*[F.col(c) for c in df.columns]).cast(
                            "decimal(38,0)"
                        )
                    ).alias("h"),
                ).collect()[0]
                sec = round(time.time() - t0, 2)
                results[name] = {
                    "sec": sec,
                    "rows": row["n"],
                    "digest": str(row["h"]),
                    "collect": "spark_digest",
                    "verdict": "spark_ok",
                }
                print(
                    f"{name}: SPARK_OK rows={row['n']} digest={row['h']} "
                    f"{sec:.2f}s (spark-side digest)",
                    flush=True,
                )
            except Exception as e:
                failures.append(name)
                msg = str(e).replace("\n", " | ")[:300]
                results[name] = {
                    "sec": round(time.time() - t0, 2),
                    "verdict": "SPARK_FAIL",
                    "err": msg,
                }
                print(f"{name}: SPARK_FAIL {msg}", flush=True)
            continue
        try:
            got = canon(qs[name](spark, SF_DIR).toPandas())
        except Exception as e:
            # a SPARK failure at sf1 is the overflow/scale canary — hard fail
            failures.append(name)
            msg = str(e).replace("\n", " | ")[:300]
            results[name] = {
                "sec": round(time.time() - t0, 2),
                "verdict": "SPARK_FAIL",
                "err": msg,
            }
            print(f"{name}: SPARK_FAIL {msg}", flush=True)
            continue
        spark_s = time.time() - t0
        if spark_only:
            results[name] = {
                "sec": round(spark_s, 2),
                "rows": len(got),
                "verdict": "spark_ok",
            }
            print(f"{name}: SPARK_OK rows={len(got)} {spark_s:.2f}s", flush=True)
            continue
        if name not in oracles:
            results[name] = {
                "sec": round(spark_s, 2),
                "rows": len(got),
                "verdict": "rows_only",
            }
            print(f"{name}: ROWS_ONLY rows={len(got)} {spark_s:.2f}s", flush=True)
            continue
        try:
            lint_oracle_types(con, oracles[name])
            exp = canon(_oracle_df(con, oracles[name]))
        except Exception as e:
            msg = str(e).replace("\n", " | ")[:200]
            results[name] = {
                "sec": round(spark_s, 2),
                "rows": len(got),
                "verdict": "spark_ok_oracle_skipped",
                "oracle_err": msg,
            }
            print(
                f"{name}: SPARK_OK rows={len(got)} {spark_s:.2f}s "
                f"(oracle skipped: {msg[:80]})",
                flush=True,
            )
            continue
        try:
            assert list(got.columns) == list(exp.columns), (
                f"cols {list(got.columns)} vs {list(exp.columns)}"
            )
            assert len(got) == len(exp), f"rows {len(got)} vs {len(exp)}"
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, rtol=0, atol=0)
            results[name] = {
                "sec": round(spark_s, 2),
                "rows": len(got),
                "verdict": "exact_match",
            }
            print(f"{name}: OK rows={len(got)} {spark_s:.2f}s", flush=True)
        except Exception as e:
            failures.append(name)
            msg = str(e).replace("\n", " | ")[:300]
            results[name] = {
                "sec": round(spark_s, 2),
                "verdict": "MISMATCH",
                "err": msg,
            }
            print(f"{name}: MISMATCH {msg}", flush=True)

    # SCALE_OUT overrides the evidence file (e.g. the sf10 exact tier writes
    # SCALE_sf10_exact.json instead of merging sf10 rows into the sf1 file)
    out_path = os.environ.get("SCALE_OUT") or (
        os.path.join(ROOT, "SCALE_sf1_full.json" if spark_only else "SCALE_sf1.json")
    )
    # a targeted rerun (explicit names) MERGES into the existing sweep file
    # so one fixed query doesn't wipe the full-set evidence — including any
    # top-level `notes` key (round-11 lesson: a merge-rewrite silently
    # stripped the sf30 file's retraction note; evidence context is part of
    # the evidence)
    notes = None
    if family:
        # every row measured under --family ran on pre-warmed indexes; flag
        # it regardless of whether a prior evidence file exists to merge
        # into (ADVICE r12: a family run with no prior file wrote warm
        # timings indistinguishable per-row from cold evidence)
        for r in results.values():
            r["amortized"] = True
    if args and os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                prior_doc = json.load(fh)
            notes = prior_doc.get("notes")
            # warmup_sec is emitted only by --family runs; a targeted
            # non-family rerun must carry the prior file's block forward
            # (ADVICE r13: the r13 merge silently deleted sf30's structured
            # per-index warmup breakdown — same evidence-stripping class as
            # the round-11 notes lesson)
            if warmup_sec is None:
                warmup_sec = prior_doc.get("warmup_sec")
            prior = prior_doc.get("queries", {})
            _PASS = ("exact_match", "rows_only", "spark_ok_oracle_skipped")
            if family:
                # amortized rows sit NEXT TO the cold evidence: keep the
                # prior cold `sec`, attach this run's seconds as
                # `sec_amortized` (a failure still replaces the verdict —
                # an amortized run may not mask a real red)
                for n, r in list(results.items()):
                    if n in prior and "sec" in prior[n]:
                        merged = dict(prior[n])
                        merged["sec_amortized"] = r["sec"]
                        merged["amortized"] = True
                        if r["verdict"] in ("SPARK_FAIL", "MISMATCH"):
                            merged["verdict"] = r["verdict"]
                            merged["err"] = r.get("err")
                        results[n] = merged
            # keep prior extra evidence keys (e.g. sec_at_32_partitions)
            # that this run's row doesn't redefine — but a passing rerun
            # must not retain the prior row's failure text (ADVICE r12: a
            # fixed query otherwise showed verdict: exact_match with a
            # stale err attached)
            for n, r in results.items():
                if n in prior:
                    base = dict(prior[n])
                    if r.get("verdict") in _PASS:
                        base.pop("err", None)
                        base.pop("oracle_err", None)
                    results[n] = {**base, **r}
            prior.update(results)
            results = prior
            failures = [
                n for n, r in results.items()
                if r["verdict"] in ("SPARK_FAIL", "MISMATCH")
            ]
        except (OSError, ValueError):
            pass
    total = round(sum(r["sec"] for r in results.values()), 1)
    out = {
        "metric": ("full_registry_spark_sec" if spark_only else "scale_sweep_exact_sec"),
        "value": total,
        "unit": "sec",
        "sf": _parse_sf(SF_DIR),
        "n_queries": len(results),
        "n_exact": sum(r["verdict"] == "exact_match" for r in results.values()),
        "n_rows_only": sum(r["verdict"] == "rows_only" for r in results.values()),
        "n_oracle_skipped": sum(
            r["verdict"] == "spark_ok_oracle_skipped" for r in results.values()
        ),
        "n_fail": len(failures),
        "queries": results,
    }
    if notes is not None:
        out["notes"] = notes
    if warmup_sec is not None:
        out["warmup_sec"] = warmup_sec
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    # `failures` covers the MERGED file (it feeds n_fail — a targeted rerun
    # must not mask an older red row); the console line reports this run
    run_fail = [n for n in failures if n in names]
    print(
        f"\n{len(names) - len(run_fail)}/{len(names)} green this run at "
        f"sf{_parse_sf(SF_DIR)} ({total}s file total); "
        f"this run's failures: {run_fail}; file failures: {failures}"
    )
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
