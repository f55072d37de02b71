"""Semantic tests for the LLM-pipeline operator families (beyond the oracle
equality already enforced in test_relational.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ad_hoc_olap_query_processing_engine_spark.operators import (
    dedup,
    multimodal,
    similarity,
)
from ad_hoc_olap_query_processing_engine_spark.streaming import windows

from .conftest import SF_SMALL, assert_frames_match


def test_minhash_candidates_subset_of_exact(spark):
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_ngram_jaccard(spark, SF_SMALL).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, SF_SMALL).collect()
    }
    assert exact, "fixture has no near-dup pairs; dedup goldens are vacuous"
    assert lsh <= exact  # LSH may miss pairs (recall<1) but never invents them
    assert len(lsh) >= len(exact) // 2  # and recall shouldn't collapse


def test_ngram_jaccard_stop_shingle_cap(spark):
    # every doc shares the hot phrase (h1..h4 → shingle df = 30) plus one
    # unique word; without a cap the inverted-index self-join explodes into
    # all 30·29/2 pairs on the hot key — with the cap the hot shingles leave
    # the universe and no pair survives.
    docs = spark.createDataFrame(
        [(i, f"h1 h2 h3 h4 u{i}") for i in range(30)], "doc_id long, text string"
    )
    # the registered query's kernel: capped postings → overlap pairs
    sh = dedup._shingles(docs)
    uncapped = dedup._overlap_from_capped(dedup._capped(sh, df_cap=10**9)).count()
    capped = dedup._overlap_from_capped(dedup._capped(sh, df_cap=10)).count()
    assert uncapped == 30 * 29 // 2
    assert capped == 0


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), triangle 10-11-12
    # with a redundant edge, isolated pair 20-21; transitive closure must pull
    # 4 down to cluster 1 even though (1,4) is never a pair.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_empty_graph(spark):
    # corpus with no near-dup pairs → empty components, loop exits cleanly
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.connected_components(pairs).count() == 0


def test_connected_components_long_path_converges_in_log_rounds(spark):
    """Adversarial worst case: a 200-node path (diameter 199). Plain min-label
    propagation needs ~diameter rounds — far beyond CC_MAX_ROUNDS — so this
    only converges if the pointer-jumping step actually halves chain depth
    every round (O(log d)). Node ids descend so labels must travel the full
    length of the path."""
    n = 200
    # path 200-199-...-1 written as (doc_a, doc_b) pairs; min id (1) is at
    # the far end from the max, the worst case for min-label flow
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "doc_a long, doc_b long"
    )
    rows = dedup.connected_components(pairs).collect()
    assert len(rows) == n
    assert {r.cluster_id for r in rows} == {1}


def test_connected_components_two_paths_stay_separate(spark):
    """Two disjoint paths must not merge: labels may only flow along edges."""
    a = [(i, i + 1) for i in range(1, 50)]          # component min id 1
    b = [(i, i + 1) for i in range(1000, 1050)]     # component min id 1000
    pairs = spark.createDataFrame(a + b, "doc_a long, doc_b long")
    got = {(r.doc_id, r.cluster_id) for r in dedup.connected_components(pairs).collect()}
    assert all(c == 1 for d, c in got if d < 1000)
    assert all(c == 1000 for d, c in got if d >= 1000)


def test_stratified_sample_is_exact_per_stratum(spark):
    # the two-phase (hash-gate + rank) sample must equal the single-phase
    # full-stratum rank — i.e. the gate is a pure optimization — and fill
    # each stratum to min(K, stratum size)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ad_hoc_olap_query_processing_engine_spark.operators import sampling
    from ad_hoc_olap_query_processing_engine_spark.sources.catalog import load_table

    out = sampling.pipe_stratified_sample(spark, SF_SMALL).toPandas()
    d = load_table(spark, "documents", SF_SMALL)
    full = (
        d.select(
            "doc_id",
            "lang",
            (sampling._doc_hash() % sampling.HASH_BUCKETS).alias("h"),
        )
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("lang").orderBy("h", "doc_id")),
        )
        .filter(F.col("rk") <= sampling.SAMPLE_K)
        .select("doc_id", "lang", F.col("rk").cast("int").alias("sample_rank"))
        .toPandas()
    )
    assert_frames_match(out, full)
    sizes = d.groupBy("lang").count().toPandas().set_index("lang")["count"]
    got_sizes = out.groupby("lang")["doc_id"].count()
    for lang, n in sizes.items():
        assert got_sizes.get(lang, 0) == min(n, sampling.SAMPLE_K)


def test_dedup_exact_covers_all_docs(spark):
    out = dedup.dedup_exact(spark, SF_SMALL)
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert out.agg({"n_copies": "sum"}).first()[0] == n_docs


def test_srp_ann_subset_of_brute(spark):
    brute = similarity.sim_brute_topk(spark, SF_SMALL).toPandas()
    ann = similarity.sim_srp_ann(spark, SF_SMALL).toPandas()
    # every ANN hit must carry the exact brute-force score for that pair
    brute_scores = {(r.query_id, r.vec_id): r.score for r in brute.itertuples()}
    checked = 0
    for r in ann.itertuples():
        if (r.query_id, r.vec_id) in brute_scores:
            assert abs(brute_scores[(r.query_id, r.vec_id)] - r.score) < 1e-9
            checked += 1
    assert len(ann) > 0 and checked > 0


def test_range_search_consistent_with_brute(spark):
    """Threshold search must return exactly the brute pairs scoring ≥ τ:
    every brute top-k hit at/above τ appears, every returned score is ≥ τ
    and matches the brute score for that pair."""
    brute = similarity.sim_brute_topk(spark, SF_SMALL).toPandas()
    rng = similarity.sim_range_search(spark, SF_SMALL).toPandas()
    assert len(rng) > 0
    assert (rng.score >= similarity.SIM_RANGE_TAU).all()
    rng_pairs = {(r.query_id, r.vec_id): r.score for r in rng.itertuples()}
    for r in brute.itertuples():
        if r.score >= similarity.SIM_RANGE_TAU:
            assert abs(rng_pairs[(r.query_id, r.vec_id)] - r.score) < 1e-9


def test_dim_stats_match_corpus(spark):
    """One row per dimension, n = corpus size everywhere, variance ≥ 0 and
    equal to the quantized population variance computed independently."""
    import numpy as np

    out = similarity.embed_dim_stats(spark, SF_SMALL).toPandas()
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").toPandas()
    mat = np.floor(np.stack(emb.embedding.values).astype("float64") * 1000.0)
    assert len(out) == mat.shape[1]
    assert (out.n_vectors == mat.shape[0]).all()
    assert (out.variance >= 0).all()
    out = out.sort_values("dim").reset_index(drop=True)
    np.testing.assert_allclose(out["mean"], mat.mean(axis=0) / 1e3, rtol=1e-9)
    np.testing.assert_allclose(out.variance, mat.var(axis=0) / 1e6, rtol=1e-6)


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    """A short doc pasted verbatim inside a much longer one: containment = 1
    while Jaccard is far below its threshold — the asymmetric score must
    flag the pair and the symmetric one must not."""
    import pandas as pd

    small_words = [f"w{i}" for i in range(10)]
    big_words = small_words + [f"x{i}" for i in range(90)]
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": [" ".join(small_words), " ".join(big_words)]}
        )
    )
    sh = dedup._shingles(docs)
    sizes = {r.doc_id: r.n for r in sh.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.s") == F.col("y.s")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .count()
    )
    containment = inter / min(sizes[1], sizes[2])
    jaccard = inter / (sizes[1] + sizes[2] - inter)
    assert containment == 1.0
    assert jaccard < dedup.JACCARD_THRESHOLD
    assert containment >= dedup.CONTAINMENT_THRESHOLD


def test_mm_feature_extract_shape_and_determinism(spark):
    feat_cols = [f"f{i}" for i in range(multimodal.FEATURE_DIM)]
    out = multimodal.mm_feature_extract(spark, SF_SMALL)
    assert set(feat_cols) <= set(out.columns)
    rows = out.orderBy("media_id").limit(5).collect()
    hists = [[r[c] for c in feat_cols] for r in rows]
    assert all(abs(sum(h) - 1.0) < 1e-9 for h in hists)  # histogram sums to 1
    again = multimodal.mm_feature_extract(spark, SF_SMALL).orderBy("media_id").limit(5).collect()
    assert hists == [[r[c] for c in feat_cols] for r in again]


def test_stream_batch_parity_tumbling(spark):
    """The streamed tumbling aggregate equals Spark's batch aggregate over the
    same events and the same ``window()`` (the DuckDB oracle test checks
    the epoch arithmetic; this one checks the streaming engine)."""
    from ad_hoc_olap_query_processing_engine_spark.sources.catalog import load_table

    streamed = windows.stream_tumbling(spark, SF_SMALL).toPandas()
    batch = (
        load_table(spark, "events", SF_SMALL)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    assert_frames_match(streamed, batch.toPandas())


def test_ivf_ann_subset_of_brute(spark):
    brute = similarity.sim_brute_topk(spark, SF_SMALL).toPandas()
    ivf = similarity.sim_ivf_ann(spark, SF_SMALL).toPandas()
    brute_scores = {(r.query_id, r.vec_id): r.score for r in brute.itertuples()}
    assert len(ivf) > 0
    hits = sum(1 for r in ivf.itertuples() if (r.query_id, r.vec_id) in brute_scores)
    # probing IVF_PROBES of IVF_CLUSTERS cells (2/8 = a quarter of the data)
    # should recover at least half of the brute-force top-5
    assert hits >= len(ivf) * 0.5
    for r in ivf.itertuples():
        if (r.query_id, r.vec_id) in brute_scores:
            assert abs(brute_scores[(r.query_id, r.vec_id)] - r.score) < 1e-9


def test_ivf_kmeans_integer_lloyd(spark):
    brute = similarity.sim_brute_topk(spark, SF_SMALL).toPandas()
    ivf = similarity.sim_ivf_kmeans(spark, SF_SMALL).toPandas()
    brute_scores = {(r.query_id, r.vec_id): r.score for r in brute.itertuples()}
    assert len(ivf) > 0
    # exact re-rank: any recovered pair carries the exact brute-force score
    for r in ivf.itertuples():
        if (r.query_id, r.vec_id) in brute_scores:
            assert abs(brute_scores[(r.query_id, r.vec_id)] - r.score) < 1e-9
    # learned-quantizer recall shouldn't collapse: probing IVF_PROBES of
    # IVF_CLUSTERS cells must recover a meaningful share of brute top-k
    hits = sum(1 for r in ivf.itertuples() if (r.query_id, r.vec_id) in brute_scores)
    assert hits >= len(ivf) * 0.3, f"kmeans-IVF recall collapsed: {hits}/{len(ivf)}"


def test_timebucket_gapfill_fills_gaps(spark):
    # 3 days of data with day 2 silent for type 'a': the grid must surface
    # the gap as an explicit zero-count row, and bounds come from the data.
    from ad_hoc_olap_query_processing_engine_spark.operators.timeseries import (
        timebucket_gapfill,
    )
    from pyspark.sql import functions as F

    rows = [
        (0, "a", 1.0),
        (0, "b", 2.0),
        (2 * 86400, "a", 3.0),  # day 1 missing entirely; day 2 only 'a'
    ]
    df = spark.createDataFrame(rows, "secs long, k string, v double").select(
        F.timestamp_micros((F.col("secs") * 1_000_000).cast("bigint")).alias("ts"),
        "k",
        "v",
    )
    out = timebucket_gapfill(
        df, "ts", ["k"], 86400, [F.count(F.lit(1)).alias("n")]
    ).collect()
    got = {(r["__bucket"], r["k"]): r["n"] for r in out}
    assert len(got) == 6  # 3 days x 2 keys, dense
    assert got[(0, "a")] == 1 and got[(86400, "a")] is None
    assert got[(86400, "b")] is None and got[(2 * 86400, "b")] is None
    assert got[(2 * 86400, "a")] == 1


def test_decontaminate_flags_only_training_docs(spark):
    """Contamination rows are training docs only (never the eval slice) and
    every hit leaks at least one shingle to at least one eval doc."""
    from ad_hoc_olap_query_processing_engine_spark.operators import pipeline

    rows = pipeline.pipe_decontaminate(spark, SF_SMALL).collect()
    assert rows, "fixture corpus should contain contaminated docs"
    for r in rows:
        assert r.doc_id % pipeline.EVAL_SLICE_MOD != 0
        assert r.n_shared_shingles >= 1
        assert r.n_eval_docs >= 1


def test_repetition_invariants(spark):
    """Ratios stay in [0,1]; the flag matches the fraction; docs too short
    for a bigram keep NULL stats and are not flagged."""
    from ad_hoc_olap_query_processing_engine_spark.operators import text

    for r in text.text_repetition(spark, SF_SMALL).collect():
        assert 0.0 < r.distinct_ratio <= 1.0
        if r.n_bigrams == 0:
            assert r.top_bigram_frac is None and not r.repetitive
        else:
            assert 0.0 < r.top_bigram_frac <= 1.0
            assert r.repetitive == (r.top_bigram_frac > text.TOP_BIGRAM_FRAC_FLAG)


def test_vocab_ids_are_dense_and_partition_safe(spark):
    """Ids must be dense [1..|vocab|] in deterministic (bucket, n DESC, token)
    order — frequency-descending within each hash bucket — and the plan must
    contain NO single-partition exchange (the id assignment parallelizes over
    VOCAB_BUCKETS windows; offsets come from a tiny broadcast join)."""
    import hashlib

    from ad_hoc_olap_query_processing_engine_spark.operators import text
    from ad_hoc_olap_query_processing_engine_spark.plans import physical_plan

    df = text.text_vocab(spark, SF_SMALL)
    rows = df.orderBy("token_id").collect()
    assert rows and rows[0].token_id == 1
    assert [r.token_id for r in rows] == list(range(1, len(rows) + 1))
    assert all(r.n >= text.VOCAB_MIN_COUNT for r in rows)

    def bucket(token: str) -> int:
        h = hashlib.md5(token.encode()).hexdigest()
        return int(h[:12], 16) % text.VOCAB_BUCKETS

    keys = [(bucket(r.token), -r.n, r.token) for r in rows]
    assert keys == sorted(keys), "id order must be (bucket, n DESC, token)"

    assert "SinglePartition" not in physical_plan(df)


def test_connected_components_long_path_converges_logarithmically(spark):
    """A 33-node path with DESCENDING ids (the min label must cross the full
    diameter-32 graph) must fully resolve within 8 rounds — only possible if
    the pointer-jump halving actually works; plain one-hop propagation would
    need 32 rounds and leave wrong labels behind this cap."""
    n = 33
    ids = [1000 - i for i in range(n)]  # path 1000-999-...-968, min at the end
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(pairs, max_rounds=8).collect()
    }
    assert got == {(i, min(ids)) for i in ids}


def test_doc_mixture_weights_rebalance_to_uniform(spark):
    """Mixture invariants: shares sum to 1, share·weight sums to 1 (the
    reweighted mixture is exactly uniform over observed strata), every
    stratum present, counts sum to the corpus size."""
    from ad_hoc_olap_query_processing_engine_spark.operators import pipeline

    out = pipeline.pipe_doc_mixture(spark, SF_SMALL).toPandas()
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    assert out.n_docs.sum() == n_docs
    assert abs(out.share.sum() - 1.0) < 1e-12
    assert abs((out.share * out.weight).sum() - 1.0) < 1e-12
    assert (out.weight > 0).all()


def test_scd2_intervals_chain_and_collapse(spark):
    """SCD2 invariants per user: versions are 1..k contiguous, consecutive
    intervals chain exactly (valid_from of v+1 == valid_to of v), no two
    consecutive versions share a state (run-length collapse), and exactly
    one version is current — closed at the open-end sentinel."""
    import pandas as pd

    from ad_hoc_olap_query_processing_engine_spark.operators import cdc

    out = cdc.cdc_scd2_intervals(spark, SF_SMALL).toPandas()
    sentinel = pd.Timestamp(cdc.SCD2_OPEN_END)
    for uid, g in out.groupby("user_id"):
        g = g.sort_values("version").reset_index(drop=True)
        assert list(g.version) == list(range(1, len(g) + 1))
        assert g.is_current.sum() == 1 and bool(g.iloc[-1].is_current)
        assert g.iloc[-1].valid_to == sentinel
        for i in range(len(g) - 1):
            assert g.valid_to[i] == g.valid_from[i + 1]
            assert g.state[i] != g.state[i + 1]
        assert (g.valid_from < g.valid_to).all()


def test_snapshot_diff_statuses_partition_the_key_space(spark):
    from ad_hoc_olap_query_processing_engine_spark.operators import cdc
    from ad_hoc_olap_query_processing_engine_spark.sources.catalog import load_table

    orders = load_table(spark, "orders", SF_SMALL)
    old = cdc._old_snapshot(orders)
    new = cdc._new_snapshot(orders)
    diff = cdc.rel_snapshot_diff(spark, SF_SMALL).collect()
    by_status = {}
    for r in diff:
        by_status.setdefault(r.status, set()).add(r.o_orderkey)
    old_keys = {r.o_orderkey for r in old.select("o_orderkey").collect()}
    new_keys = {r.o_orderkey for r in new.select("o_orderkey").collect()}
    assert by_status["added"] == new_keys - old_keys
    assert by_status["removed"] == old_keys - new_keys
    assert by_status["changed"] <= old_keys & new_keys
    # changed rows carry both sides; added/removed carry exactly one
    for r in diff:
        if r.status == "changed":
            assert r.old_cents is not None and r.new_cents == r.old_cents + 1
        elif r.status == "added":
            assert r.old_cents is None and r.new_cents is not None
        else:
            assert r.new_cents is None and r.old_cents is not None


def test_merge_apply_reproduces_new_snapshot(spark):
    """The merged state must equal the new snapshot row-for-row — the real
    MERGE invariant, stronger than the aggregated query output."""
    from pyspark.sql import functions as F

    from ad_hoc_olap_query_processing_engine_spark.operators import cdc
    from ad_hoc_olap_query_processing_engine_spark.sources.catalog import load_table

    orders = load_table(spark, "orders", SF_SMALL)
    old = cdc._fingerprint(cdc._old_snapshot(orders))
    new = cdc._fingerprint(cdc._new_snapshot(orders))
    old_k = old.select("o_orderkey", F.col("fp").alias("old_fp"))
    upserts = (
        new.join(old_k, "o_orderkey", "left")
        .filter(F.col("old_fp").isNull() | (F.col("old_fp") != F.col("fp")))
        .drop("old_fp")
    )
    deletes = old.join(new.select("o_orderkey"), "o_orderkey", "left_anti").select(
        "o_orderkey"
    )
    touched = upserts.select("o_orderkey").unionByName(deletes)
    merged = old.join(touched, "o_orderkey", "left_anti").unionByName(upserts)
    assert merged.exceptAll(new).count() == 0
    assert new.exceptAll(merged).count() == 0


def test_fuzzy_name_pairs_are_blocked_and_thresholded(spark):
    from ad_hoc_olap_query_processing_engine_spark.operators.dedup import (
        FUZZY_MAX_DIST,
        dedup_fuzzy_name,
    )

    rows = dedup_fuzzy_name(spark, SF_SMALL).collect()
    assert rows, "fixture produced no fuzzy pairs; threshold too tight"
    for r in rows:
        assert r.name_a < r.name_b  # canonical orientation, no dup mirror pairs
        assert 0 < r.dist <= FUZZY_MAX_DIST
        # blocking key: pairs share the trailing noun token
        assert r.name_a.split()[-1] == r.name_b.split()[-1]


def test_shard_shuffle_is_a_permutation_with_dense_positions(spark):
    from ad_hoc_olap_query_processing_engine_spark.operators.pipeline import (
        NUM_SHARDS,
        pipe_shard_shuffle,
    )

    rows = pipe_shard_shuffle(spark, SF_SMALL).collect()
    assert len({r.doc_id for r in rows}) == len(rows)  # every doc exactly once
    by_shard = {}
    for r in rows:
        assert 0 <= r.shard < NUM_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_pca_projection_invariants(spark):
    """Fit/transform split: projections are centered (to within the
    documented quantization, ~1e-3 of a unit-normed projection), components
    orthonormal, and pc1 captures at least as much variance as pc2."""
    import numpy as np

    from ad_hoc_olap_query_processing_engine_spark.operators.similarity import (
        PCA_WSCALE,
        QUANT_SCALE,
        _fit_components,
        embed_pca_project,
    )

    mu, comps = _fit_components(spark, SF_SMALL)
    c = np.array(comps)
    # orthonormal rows
    assert np.allclose(c @ c.T, np.eye(len(c)), atol=1e-9)
    # pinned sign: largest-|w| coordinate positive
    for k in range(len(c)):
        assert c[k, np.argmax(np.abs(c[k]))] > 0
    df = embed_pca_project(spark, SF_SMALL).toPandas()
    unit = float(QUANT_SCALE * PCA_WSCALE)  # pc_q units per 1.0 of (x−μ)·w
    assert abs(df.pc1_q.mean()) / unit < 1e-3
    assert abs(df.pc2_q.mean()) / unit < 1e-3
    assert df.pc1_q.var() >= df.pc2_q.var()
    # projection count covers every embedding exactly once
    assert df.vec_id.is_unique


def test_pii_scrub_redacts_everything(spark):
    """After the scrub pass no email/phone/IP pattern survives, and the
    per-row counts see exactly the planted PII (1 email, 1 phone, 1 IP)."""
    from ad_hoc_olap_query_processing_engine_spark.operators.pipeline import (
        pipe_pii_scrub,
    )

    df = pipe_pii_scrub(spark, SF_SMALL).toPandas()
    assert (df.n_emails == 1).all()
    assert (df.n_phones == 1).all()
    assert (df.n_ips == 1).all()
    assert df.scrub_digest.str.len().eq(32).all()


def test_decile_arithmetic_matches_builtin_ntile(spark):
    """The bucketed-rank NTILE reconstruction must agree with Spark's own
    ntile() for awkward sizes (n < 10, n % 10 != 0, ties in spend)."""
    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    for n in (1, 3, 10, 17, 95, 100):
        rows = [(i, float((i * 37) % 13)) for i in range(n)]  # ties included
        df = spark.createDataFrame(rows, "o_custkey long, spend double")
        want = (
            df.withColumn(
                "decile", F.ntile(10).over(W.orderBy(F.desc("spend"), F.asc("o_custkey")))
            )
            .groupBy("decile")
            .count()
            .toPandas()
            .sort_values("decile")
            .reset_index(drop=True)
        )
        # the operator's arithmetic, applied to the same global rank
        total = n
        q, r = divmod(total, 10)
        got = []
        for rk in range(1, total + 1):
            if rk <= r * (q + 1):
                got.append((rk - 1) // (q + 1) + 1)
            else:
                got.append(r + (rk - r * (q + 1) - 1) // max(q, 1) + 1)
        got_counts = (
            pd.Series(got).value_counts().sort_index().rename_axis("decile").reset_index(name="count")
        )
        assert want["count"].tolist() == got_counts["count"].tolist(), n
        assert want["decile"].tolist() == got_counts["decile"].tolist(), n


def test_sq_ann_candidates_recall_vs_brute(spark):
    """The SQ8 candidate set (before re-rank) must recover the TRUE nearest
    neighbour for most queries on the fixed driver data — pins the quantizer
    keeps enough signal (deterministic data, deterministic codes, so the
    recall is a constant; regression = quantizer broke)."""
    from ad_hoc_olap_query_processing_engine_spark.operators.similarity import (
        sim_brute_topk,
        sim_sq_ann,
    )

    from .conftest import SF_SMALL

    brute = sim_brute_topk(spark, SF_SMALL).toPandas()
    sq = sim_sq_ann(spark, SF_SMALL).toPandas()
    top1_brute = brute[brute["rank"] == 1].set_index("query_id")["vec_id"]
    top1_sq = sq[sq["rank"] == 1].set_index("query_id")["vec_id"]
    hits = sum(int(top1_sq.get(q, -1) == v) for q, v in top1_brute.items())
    assert hits >= 8, f"SQ8 top-1 recall degraded: {hits}/10"


def test_pq_ann_scores_match_brute(spark):
    """Every PQ hit that is also a brute hit carries the identical exact
    re-rank score (the shared _exact_rerank tail), and the PQ result is
    non-empty with TOP_K rows per query."""
    brute = similarity.sim_brute_topk(spark, SF_SMALL).toPandas()
    pq = similarity.sim_pq_ann(spark, SF_SMALL).toPandas()
    assert len(pq) == similarity.N_QUERIES * similarity.TOP_K
    brute_scores = {(r.query_id, r.vec_id): r.score for r in brute.itertuples()}
    checked = 0
    for r in pq.itertuples():
        if (r.query_id, r.vec_id) in brute_scores:
            assert abs(brute_scores[(r.query_id, r.vec_id)] - r.score) < 1e-9
            checked += 1
    assert checked > 0


def test_pq_codebook_well_formed(spark):
    """One-Lloyd-step codebook invariants: every subspace has ≥1 centroid,
    every centroid spans exactly its subspace's dims, and centroid values sit
    inside the quantized data range (a floor-mean cannot leave the hull)."""
    cb = similarity.pq_codebook(spark, SF_SMALL).toPandas()
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    import pyspark.sql.functions as SF

    dim = len(e.select("embedding").first()[0])
    # the operator assigns m = floor(d*M/D); derive expectations with the
    # same rule so non-divisible dims don't spuriously fail
    by_m = {
        m: [d for d in range(dim) if d * similarity.PQ_M // dim == m]
        for m in range(similarity.PQ_M)
    }
    assert set(cb["m"].unique()) == set(range(similarity.PQ_M))
    for (m, k), grp in cb.groupby(["m", "k"]):
        dims = sorted(grp["d"])
        assert dims == by_m[m], (m, k)
    lo = e.select(SF.min(SF.array_min("embedding"))).first()[0] * 1000 - 1
    hi = e.select(SF.max(SF.array_max("embedding"))).first()[0] * 1000 + 1
    assert cb["c"].between(lo, hi).all()


def test_trigram_lm_probabilities_are_probabilities(spark):
    """Interpolated mixture of ML components each ≤ 1 ⇒ per-token p ∈ (0, 1]
    ⇒ the fixed-point per-doc aggregates are bounded: 0 ≤ avg_p_e6 ≤ 10⁶ and
    sum_p_e6 ≤ n_trigrams·10⁶, with the quotient identity holding."""
    from ad_hoc_olap_query_processing_engine_spark.operators import text

    out = text.text_trigram_lm(spark, SF_SMALL).toPandas()
    assert len(out) > 0
    assert (out["n_trigrams"] > 0).all()
    assert (out["sum_p_e6"] > 0).all()
    assert (out["sum_p_e6"] <= out["n_trigrams"] * 1_000_000).all()
    assert (out["avg_p_e6"] == out["sum_p_e6"] // out["n_trigrams"]).all()
    assert out["avg_p_e6"].between(0, 1_000_000).all()


def _lttb_reference(ts_us, event_id, value, B):
    """Naive per-point sequential LTTB fold — deliberately structured
    differently from the vectorized kernel (plain Python loop, no numpy)."""
    import math

    rows = sorted(zip(ts_us, event_id, value))
    n = len(rows)
    if n < B:
        return []
    xs = [t // 1_000_000 for t, _, _ in rows]
    x0 = min(xs)
    xs = [x - x0 for x in xs]
    ys = [math.floor(v * 100) for _, _, v in rows]
    bucket = [((rn - 2) * (B - 2)) // (n - 2) for rn in range(2, n)]
    sel = [0]
    a = 0
    for bb in range(B - 2):
        idx = [i + 1 for i, b in enumerate(bucket) if b == bb]
        if bb < B - 3:
            nxt = [i + 1 for i, b in enumerate(bucket) if b == bb + 1]
            sx, sy, nn = sum(xs[i] for i in nxt), sum(ys[i] for i in nxt), len(nxt)
        else:
            sx, sy, nn = xs[n - 1], ys[n - 1], 1
        best, best_score = None, -1
        for i in idx:
            s = abs((xs[a] * nn - sx) * (ys[i] - ys[a]) - (xs[a] - xs[i]) * (sy - ys[a] * nn))
            if s > best_score:
                best, best_score = i, s
        a = best
        sel.append(a)
    sel.append(n - 1)
    return [(pos, i + 1, xs[i], ys[i]) for pos, i in enumerate(sel)]


def test_lttb_matches_sequential_reference(spark):
    """The vectorized applyInPandas kernel reproduces a naive sequential
    LTTB fold exactly (positions, ranks, quantized coordinates) on real
    series from the sf0.01 events table."""
    import pandas as pd

    from ad_hoc_olap_query_processing_engine_spark.operators import timeseries
    from .conftest import SF_ORACLE

    out = timeseries.ts_lttb(spark, SF_ORACLE).toPandas()
    ev = pd.read_parquet(f"{SF_ORACLE}/events.parquet")
    # normalize to µs explicitly — pandas may surface the parquet timestamps
    # as datetime64[ns] OR datetime64[us] depending on version/resolution
    ev["ts_us"] = ev["ts"].values.astype("datetime64[us]").astype("int64")
    users = sorted(out["user_id"].unique())[:5]
    assert users, "no series long enough for LTTB at this sf"
    for uid in users:
        grp = ev[ev["user_id"] == uid]
        ref = _lttb_reference(
            grp["ts_us"].tolist(), grp["event_id"].tolist(), grp["value"].tolist(),
            timeseries.LTTB_B,
        )
        got = (
            out[out["user_id"] == uid]
            .sort_values("pos")[["pos", "rn", "x_off", "y_e2"]]
            .itertuples(index=False)
        )
        assert [tuple(r) for r in got] == ref, uid


def test_lttb_structure(spark):
    """Per series: exactly B points, pos 0..B-1, strictly increasing ranks,
    endpoints kept (rn=1 first; last rank equals the series length)."""
    import pandas as pd

    from ad_hoc_olap_query_processing_engine_spark.operators import timeseries
    from .conftest import SF_ORACLE

    B = timeseries.LTTB_B
    out = timeseries.ts_lttb(spark, SF_ORACLE).toPandas()
    ev = pd.read_parquet(f"{SF_ORACLE}/events.parquet")
    counts = ev.groupby("user_id").size()
    for uid, grp in out.groupby("user_id"):
        grp = grp.sort_values("pos")
        assert list(grp["pos"]) == list(range(B))
        assert grp["rn"].is_monotonic_increasing and grp["rn"].is_unique
        assert grp["rn"].iloc[0] == 1
        assert grp["rn"].iloc[-1] == counts[uid]
    assert set(out["user_id"]) == set(counts[counts >= B].index)


def test_ivfpq_ann_scores_match_brute(spark):
    """IVFPQ (coarse cells → residual PQ → ADC in probed lists) returns
    TOP_K exact-reranked rows per query, and any hit shared with brute
    force carries the identical exact score."""
    brute = similarity.sim_brute_topk(spark, SF_SMALL).toPandas()
    ivfpq = similarity.sim_ivfpq_ann(spark, SF_SMALL).toPandas()
    assert len(ivfpq) == similarity.N_QUERIES * similarity.TOP_K
    brute_scores = {(r.query_id, r.vec_id): r.score for r in brute.itertuples()}
    checked = 0
    for r in ivfpq.itertuples():
        if (r.query_id, r.vec_id) in brute_scores:
            assert abs(brute_scores[(r.query_id, r.vec_id)] - r.score) < 1e-9
            checked += 1
    assert checked > 0


def test_stl_decomposition_identity_and_centering(spark):
    """ts_stl_decompose invariants: wherever the trend is defined the
    additive identity value = trend + seasonal + remainder holds EXACTLY
    (fixed-point construction), and grand-centering keeps each event_type's
    seasonal profile near zero (|Σ seasonal| bounded by the floor slack of
    the 7 per-dow means)."""
    from ad_hoc_olap_query_processing_engine_spark.operators import timeseries
    from .conftest import SF_ORACLE

    out = timeseries.ts_stl_decompose(spark, SF_ORACLE).toPandas()
    assert len(out) > 0
    defined = out[out["trend_e4"].notna()]
    assert len(defined) > 0
    assert (
        defined["value_e4"]
        == defined["trend_e4"] + defined["seasonal_e4"] + defined["remainder_e4"]
    ).all()
    per_type = out.drop_duplicates(["event_type", "day"]).groupby("event_type")
    for _etype, grp in per_type:
        seas = grp.drop_duplicates(subset=["day"]).set_index("day")["seasonal_e4"]
        week = seas.iloc[:7]
        assert abs(int(week.sum())) <= 7 * 7  # floor slack per mean + grand


def test_interval_coverage_bounds(spark):
    """rel_interval_coverage invariants: island count never exceeds interval
    count, coverage is at least one window per island and at most one window
    per interval (union can only shrink), all strictly positive."""
    from ad_hoc_olap_query_processing_engine_spark.operators import timeseries
    from .conftest import SF_ORACLE

    W_US = timeseries.CONC_INTERVAL_US
    out = timeseries.rel_interval_coverage(spark, SF_ORACLE).toPandas()
    assert len(out) > 0
    assert (out["n_islands"] >= 1).all() and (out["n_intervals"] >= out["n_islands"]).all()
    assert (out["covered_us"] >= out["n_islands"] * W_US).all()
    assert (out["covered_us"] <= out["n_intervals"] * W_US).all()


def test_embed_gram_matrix_exact_vs_numpy(spark):
    # the distributed integer Gram must equal a single-process numpy
    # recompute exactly (int64 arithmetic end to end — no float order)
    import numpy as np
    import pyarrow.parquet as pq

    emb = pq.read_table(f"{SF_SMALL}/embeddings.parquet", columns=["embedding"])
    x = np.stack(emb.column(0).to_pylist()).astype("float64")
    q = np.floor(x * 1000).astype("int64")
    g = q.T @ q
    out = similarity.embed_gram_matrix(spark, SF_SMALL).toPandas()
    head = out[out.j == -1].set_index("i")
    tri = out[out.j >= 0]
    assert (head["n"] == len(q)).all()
    assert (head["s"].sort_index().to_numpy() == q.sum(axis=0)).all()
    for r in tri.sample(n=min(200, len(tri)), random_state=7).itertuples():
        assert g[r.i, r.j] == r.g
