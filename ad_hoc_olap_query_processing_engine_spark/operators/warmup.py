"""Family-index warmup for benchmarking (round-9 verdict ask #5).

The engine maintains session-scoped materialized indexes shared across
operator families (the warehouse pattern: an index is built once and many
queries read it).  The bench harness runs queries alphabetically, so the
FIRST consumer of each family used to be charged its family's one-time
index build (dedup_cluster_cc carried the shingle/minhash build,
graph_clustering_coeff the kNN-edge build, …) — totals were honest but
per-query attribution was not.  ``warm_family_indexes`` pre-builds the
shared indexes so per-query bench numbers measure the QUERY, with the
build cost reported separately as the warmup phase.

This is bench-harness plumbing only: the driver's correctness runs and
real users never need it — every index builds lazily on first use.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession

# (chain, module, attr) builder functions; each takes (spark, sf_dir) and
# returns the session-cached index (DataFrame builders are forced with
# count()).  ``chain`` groups builders that MUST run in order (later ones
# read earlier artifacts); distinct chains run concurrently from the pool —
# round 13 split the per-module chains into true dependency chains (the
# similarity module alone held four independent index families whose
# sequential build was a ~21 s pole; any residual cross-chain read is
# serialized safely by session_cache's per-artifact build locks).
_BUILDERS: list[tuple[str, str, str]] = [
    # dedup family: shingle postings feed MinHash/SimHash/containment;
    # verified pairs feed LSH output, clustering and corpus filters
    ("dedup.pairs", "dedup", "shingle_postings"),
    ("dedup.pairs", "dedup", "verified_minhash_pairs"),
    # CC labels: shared by dedup_cluster_cc, dedup_survivorship and
    # pipe_corpus_filter (round 12 — previously each re-ran the loop)
    ("dedup.pairs", "dedup", "cc_labels"),
    # exact-overlap index (reads shingle_postings — the per-artifact lock
    # serializes that handoff if this chain gets there first)
    ("dedup.overlap", "dedup", "pair_overlap_table"),
    # the recall report's LSH side (capped-universe verified pairs): without
    # the prebuild the report re-ran the full capped sketch per invocation
    # (round-11 bench variance, 3.3 ↔ 7.0 s)
    ("dedup.capped", "dedup", "capped_postings"),
    ("dedup.capped", "dedup", "verified_minhash_pairs_capped"),
    # incremental pair maintenance (round 14, verdict r13 #1): warm ONLY the
    # maintained BASE artifacts — round 13 warmed the full query product
    # here, which left the timed pipe_minhash_incremental a 0.03 s cache
    # read; the timed query now performs the delta fold itself
    ("pipeline", "pipeline", "_incr_base_bands"),
    ("pipeline", "pipeline", "_incr_base_cands"),
    ("pipeline", "pipeline", "_incr_base_pairs"),
    # incremental label maintenance (round 13): base labels are the
    # maintained artifact — warming them leaves the amortized row pricing
    # the label REFRESH (delta CC loop), the actual per-batch work
    ("pipeline", "pipeline", "_incr_base_cc"),
    # graph family: co-purchase and capped kNN edge tables (independent)
    ("graph.purchase", "graph", "purchase_edges"),
    ("graph.knn", "graph", "knn_copurchase_edges"),
    # ANN family, four independent index families:
    ("sim.srp", "similarity", "srp_projections"),
    # incremental IVF maintenance (round 13): the base quantizer + cell
    # index are the maintained artifacts; the timed query then prices the
    # batch assignment + serve, the actual per-batch work
    ("sim.kmeans", "similarity", "_ivfk_base_model"),
    ("sim.kmeans", "similarity", "_ivfk_base_cells"),
    # IVFPQ reads the IVF assignments — one chain
    ("sim.ivf", "similarity", "_ivf_assignments"),
    ("sim.ivf", "similarity", "_ivfpq_ccent"),
    ("sim.ivf", "similarity", "_ivfpq_codebook"),
    ("sim.ivf", "similarity", "ivfpq_codes"),
    ("sim.pq", "similarity", "pq_codebook"),
    ("sim.pq", "similarity", "pq_codes"),
    # text family: corpus bigram-LM fluency scores
    ("text", "text", "bigram_lm_scores"),
]


def warm_family_indexes(
    spark: SparkSession, sf_dir: str, modules: list[str] | None = None
) -> dict[str, float]:
    """Force-build every shared family index; returns {index: seconds}.
    Failures are reported and skipped — a missing warmup only shifts cost
    back onto the first consumer, never changes results.  ``modules``
    restricts the build: each entry is an operator module name ("dedup") or
    a single builder ("dedup.verified_minhash_pairs") — the scale sweep's
    --family mode, so an sf100 dedup probe pays neither the ANN codebooks
    nor the exact-pair overlap index its queries never read."""
    import importlib
    import time

    timings: dict[str, float] = {}
    builders = (
        _BUILDERS
        if modules is None
        else [
            b for b in _BUILDERS
            if b[1] in modules or f"{b[1]}.{b[2]}" in modules
        ]
    )

    def run_builder(mod_name: str, attr: str) -> None:
        try:
            mod = importlib.import_module(f"{__package__}.{mod_name}")
            fn = getattr(mod, attr)
            t0 = time.perf_counter()
            out = fn(spark, sf_dir)
            if isinstance(out, DataFrame):
                out.count()
            timings[f"{mod_name}.{attr}"] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # pragma: no cover - defensive bench path
            print(f"warmup: {mod_name}.{attr} failed: {exc}", file=sys.stderr)

    # Overlap INDEPENDENT family chains from a small thread pool (guide
    # §2.6: the scheduler happily runs several jobs at once; sequential
    # builds left most of the machine idle during each build's tail).
    # Within a chain, order IS the dependency order (later builders read
    # earlier artifacts); across chains the only links (e.g. IVFPQ reading
    # the IVF assignments) are serialized safely by session_cache's per-artifact
    # build locks — a chain that hits a dependency mid-build simply waits
    # for it.  Timings per builder are charged to the thread that ran the
    # build, so the reported per-index seconds stay attributable; the
    # WALL-CLOCK warmup (what bench.py folds into value_all_in) is what the
    # overlap shrinks.
    chains: dict[str, list[tuple[str, str]]] = {}
    for chain_key, mod_name, attr in builders:
        chains.setdefault(chain_key, []).append((mod_name, attr))

    if len(chains) <= 1:
        for chain_key, mod_name, attr in builders:
            run_builder(mod_name, attr)
        return timings

    from concurrent.futures import ThreadPoolExecutor

    def run_chain(chain: list[tuple[str, str]]) -> None:
        for mod_name, attr in chain:
            run_builder(mod_name, attr)

    # most-expensive-first keeps the slowest chain from starting last
    # (round 14 re-measure after the stream/pipeline product builds left
    # the warmup: the IVF k-means fit chain ~19 s and the dedup pair chain
    # ~18 s are the poles; ties fall back to chain length)
    cost_rank = {
        "sim.kmeans": 0,
        "dedup.pairs": 1,
        "pipeline": 2,
        "graph.knn": 3,
        "sim.ivf": 4,
        "dedup.capped": 5,
        "sim.pq": 6,
    }
    order = sorted(
        chains.items(), key=lambda kv: (cost_rank.get(kv[0], 9), -len(kv[1]))
    )
    with ThreadPoolExecutor(max_workers=min(4, len(order))) as pool:
        list(pool.map(run_chain, [c for _, c in order]))
    return timings
