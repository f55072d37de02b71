"""Composed training-corpus pipeline (SURVEY.md §2.3 extension tier).

pipe_corpus_filter  the end-to-end "kept corpus" query a training-data
                    pipeline actually ships: quality-score every document
                    (C4/Gopher-style heuristics, text.quality_frame), mine
                    near-duplicate clusters (MinHash-LSH pairs → connected
                    components, dedup.connected_components), and keep the
                    documents that pass quality AND are their cluster's
                    canonical representative (non-keepers drop via a
                    LEFT ANTI join). Demonstrates that the operator tiers
                    compose: the same building blocks that are individually
                    oracle-checked chain into one plan, and the chained
                    result is oracle-checked too (quality CTE + recursive-CTE
                    components in one DuckDB statement).

At 100 TB: quality scoring is shuffle-free map work; the dedup subtree is
the bucketed LSH pipeline (never all-pairs); the final anti-join keys on
doc_id — the non-keeper side scales with the corpus duplicate rate, so no
broadcast hint (AQE broadcasts when it happens to be small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .dedup import (
    _SHINGLES_SQL,
    _minhash_ctes,
    bucket_window_join,
    cc_labels,
    shingle_postings,
)
from .iterutil import Pins, checkpoint, generation, overlap
from .registry import register
from .text import TEXT_QUALITY_SQL, quality_frame


def pipe_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    cc = cc_labels(spark, sf_dir)
    nonkeep = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    q = quality_frame(d).filter(F.col("keep"))
    # no broadcast hint: the non-keeper set is a duplicate-rate fraction of
    # the whole corpus — shuffle anti-join is the scale-correct default and
    # AQE still broadcasts when the set turns out small
    return (
        q.join(nonkeep, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_tokens")
    )


def _corpus_filter_sql() -> str:
    return f"""\
WITH RECURSIVE {_minhash_ctes()},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM vpairs
  UNION
  SELECT doc_b, doc_a FROM vpairs),
walk(u, l) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
  UNION
  SELECT e.v, w.l FROM walk w JOIN edges e ON e.u = w.u),
cc AS (SELECT u AS doc_id, MIN(l) AS cluster_id FROM walk GROUP BY u),
nonkeep AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id),
q AS ({TEXT_QUALITY_SQL})
SELECT d.doc_id, d.lang, q.n_tokens
FROM documents d
JOIN q ON q.doc_id = d.doc_id
WHERE q.keep AND d.doc_id NOT IN (SELECT doc_id FROM nonkeep)"""


register("pipe_corpus_filter", pipe_corpus_filter, _corpus_filter_sql())


# ---------------------------------------------------------------------------
# pipe_token_chunks — sequence packing: split each document's token stream
# into fixed-width training windows (CHUNK_TOKENS tokens, last chunk ragged),
# emitting per-chunk metadata + content digest. Pure JVM array work
# (split → transform over a chunk-index sequence → slice → posexplode) — no
# Python, no shuffle; rows fan out ~n_tokens/CHUNK_TOKENS per doc. The md5
# digest makes the packed chunk bytes themselves oracle-checkable.
# ---------------------------------------------------------------------------

# 32 (not a SOTA 2k/8k context) so the fixture corpus — docs up to ~100
# tokens — genuinely produces multi-chunk output with ragged tails
CHUNK_TOKENS = 32


def pipe_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(CHUNK_TOKENS))).cast("int")
    # sequence(0, -1) would DESCEND (step defaults to -1); guard empty docs
    idxs = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        idxs, lambda i: F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS)
    )
    return d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("chunk").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk")).cast("binary")).alias("chunk_md5"),
    )


PIPE_TOKEN_CHUNKS_SQL = f"""\
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id, toks,
         CAST(CEIL(len(toks) / {CHUNK_TOKENS}.0) AS INT) AS nc
  FROM t)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(len(toks[i * {CHUNK_TOKENS} + 1 : (i + 1) * {CHUNK_TOKENS}]) AS INT)
         AS n_tokens,
       md5(array_to_string(toks[i * {CHUNK_TOKENS} + 1 : (i + 1) * {CHUNK_TOKENS}], ' '))
         AS chunk_md5
FROM c, unnest(range(0, nc)) AS u(i)"""


register("pipe_token_chunks", pipe_token_chunks, PIPE_TOKEN_CHUNKS_SQL)


# ---------------------------------------------------------------------------
# pipe_decontaminate — benchmark decontamination: flag training documents
# that share any word shingle with the held-out eval set (here a
# deterministic 1/97 slice of the corpus standing in for a benchmark suite;
# a real run would load the benchmark as its own table). The check is an
# inverted-index equi-join on the shingle — the same postings shape as the
# n-gram dedup tier, never an all-pairs comparison. Per-shingle fan-out is
# df_train × df_eval; the eval side of a real deployment is a fixed-size
# benchmark (thousands of docs), which bounds the product no matter how
# large the training corpus grows. No broadcast hint on either side: the
# 1/97 slice used here scales with the corpus, and AQE broadcasts the
# postings when they do turn out small.
#
# Output: one row per CONTAMINATED training doc with the number of distinct
# leaked shingles and the number of eval documents hit — the report a
# pipeline acts on (drop or audit).
# ---------------------------------------------------------------------------

EVAL_SLICE_MOD = 97


def pipe_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_postings(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_SLICE_MOD == 0
    eval_sh = sh.filter(is_eval).select(F.col("doc_id").alias("eval_id"), "s")
    train_sh = sh.filter(~is_eval)
    return (
        train_sh.join(eval_sh, "s")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("s").alias("n_shared_shingles"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


PIPE_DECONTAMINATE_SQL = f"""\
WITH sh AS ({_SHINGLES_SQL}),
ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % {EVAL_SLICE_MOD} = 0),
tr AS (SELECT doc_id, s FROM sh WHERE doc_id % {EVAL_SLICE_MOD} <> 0)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.s)       AS n_shared_shingles,
       COUNT(DISTINCT ev.eval_id) AS n_eval_docs
FROM tr JOIN ev ON ev.s = tr.s
GROUP BY tr.doc_id"""


register("pipe_decontaminate", pipe_decontaminate, PIPE_DECONTAMINATE_SQL)


# ---------------------------------------------------------------------------
# pipe_shard_shuffle — deterministic global shuffle + sharding for training:
# every doc gets a shard (hash bucket) and a position within the shard
# (rank by hash), yielding a reproducible pseudorandom global order
# independent of input layout — rand() would give neither reproducibility
# nor an oracle. At scale, NUM_SHARDS is chosen so one shard ≈ one output
# file (100k+ shards at 100 TB): the per-shard rank window then sorts a
# file-sized partition, never a hot global sort, and shard assignment is a
# map-only expression. The md5→48-bit-int hash is the same cross-engine
# recipe as sampling/dedup, so the full (doc_id, shard, pos) assignment is
# hash-checked.
# ---------------------------------------------------------------------------

NUM_SHARDS = 16


def pipe_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    base = d.select("doc_id", "n_chars", h.alias("__h"))
    pos = F.row_number().over(
        W.partitionBy(F.col("__h") % NUM_SHARDS).orderBy("__h", "doc_id")
    )
    return base.select(
        "doc_id",
        (F.col("__h") % NUM_SHARDS).cast("int").alias("shard"),
        pos.cast("int").alias("pos"),
        "n_chars",
    )


PIPE_SHARD_SHUFFLE_SQL = f"""\
WITH h AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS hh
  FROM documents)
SELECT doc_id,
       CAST(hh % {NUM_SHARDS} AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY hh % {NUM_SHARDS} ORDER BY hh, doc_id) AS INT) AS pos,
       n_chars
FROM h"""


register("pipe_shard_shuffle", pipe_shard_shuffle, PIPE_SHARD_SHUFFLE_SQL)


# ---------------------------------------------------------------------------
# pipe_pack_bins — cross-document sequence packing: concatenate many short
# documents into fixed-capacity context windows (pipe_token_chunks splits ONE
# long doc; training pipelines also need the converse — pack shorts together
# so windows aren't mostly padding). Exact global first-fit is inherently
# sequential, so the distributed form shards documents deterministically and
# runs streaming-concat-then-cut per shard: a running token cumsum (window
# over doc_id order within the shard) assigns each doc the bin its START
# offset falls in. Bins are full up to straddle slack — the standard
# approximation — and the whole assignment is pure integer window math,
# identical in DuckDB. At 100 TB the shard count scales out; each shard's
# window sorts only its own docs.
# ---------------------------------------------------------------------------

PACK_CAPACITY = 256  # tokens per packed window
PACK_SHARDS = 8


def pipe_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    t = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).cast("int").alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    return t.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(start / PACK_CAPACITY).cast("int").alias("bin_id"),
        (start % PACK_CAPACITY).cast("int").alias("bin_offset"),
    )


PIPE_PACK_BINS_SQL = f"""\
WITH t AS (
  SELECT doc_id,
         CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
s AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
  FROM t)
SELECT doc_id, shard, n_tokens,
       CAST(st // {PACK_CAPACITY} AS INT) AS bin_id,
       CAST(st % {PACK_CAPACITY} AS INT) AS bin_offset
FROM s"""


register("pipe_pack_bins", pipe_pack_bins, PIPE_PACK_BINS_SQL)


# ---------------------------------------------------------------------------
# pipe_doc_mixture — domain-mixture reweighting table: per (lang, source)
# stratum counts, corpus shares, and the resampling weight that moves the
# observed mixture to a uniform target over observed strata (the DoReMi /
# data-mixture-rebalancing step a training pipeline multiplies into its
# sampling probabilities; weight = target_share / observed_share =
# total / (k·n) for k observed strata). Two tiny aggregates — the stratum
# table is one row per domain, the totals one row — so the whole op is a
# map-side-combined groupBy plus a broadcast: nothing here grows with corpus
# size except the first aggregation's input. Exact-integer arithmetic into
# one double division per column keeps every value bit-identical in DuckDB;
# invariants Σ share = 1 and Σ share·weight = 1 are pinned in tests.
# ---------------------------------------------------------------------------


def pipe_doc_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    strata = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = strata.agg(
        F.sum("n_docs").alias("__total"), F.count(F.lit(1)).alias("__k")
    )
    return (
        strata.crossJoin(F.broadcast(tot))
        .withColumn(
            "share", F.col("n_docs").cast("double") / F.col("__total").cast("double")
        )
        .withColumn(
            "weight",
            F.col("__total").cast("double")
            / (F.col("__k") * F.col("n_docs")).cast("double"),
        )
        .select("lang", "source", "n_docs", "share", "weight")
    )


PIPE_DOC_MIXTURE_SQL = """\
WITH strata AS (
  SELECT lang, source, COUNT(*) AS n_docs FROM documents GROUP BY lang, source),
tot AS (SELECT SUM(n_docs) AS total, COUNT(*) AS k FROM strata)
SELECT s.lang, s.source, s.n_docs,
       CAST(s.n_docs AS DOUBLE) / CAST(t.total AS DOUBLE)       AS share,
       CAST(t.total AS DOUBLE) / CAST(t.k * s.n_docs AS DOUBLE) AS weight
FROM strata s CROSS JOIN tot t"""


register("pipe_doc_mixture", pipe_doc_mixture, PIPE_DOC_MIXTURE_SQL)


# ---------------------------------------------------------------------------
# pipe_pii_scrub — PII redaction pass (emails, phone numbers, IPv4 hosts),
# the scrub step every training-data pipeline runs before tokenization. The
# driver corpus contains no literal PII, so the "raw" text is derived
# deterministically from the customer table (name-based contact line) —
# the regex kernels are the operator; the derivation just gives them
# non-trivial, reproducible input. Everything is JVM regexp (regexp_count /
# regexp_replace inside whole-stage codegen — no Python in the loop); the
# patterns avoid lookaround/backrefs so Java-regex (Spark) and RE2 (DuckDB
# oracle) agree byte-for-byte. Per-row md5 digests of the scrubbed text make
# the oracle comparison verify the exact redacted output, not just counts.
# At 100 TB this is embarrassingly parallel map work: zero shuffles, zero
# aggregations — scan → project — so it scales linearly with input splits.
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-555-[0-9]{4}"
_PII_IP = r"10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def pipe_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    handle = F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("")))
    raw = F.concat(
        F.lit("Contact "),
        F.col("c_name"),
        F.lit(" <"),
        handle,
        F.lit("@example.com> or +1-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" last seen from 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".0."),
        (F.col("c_custkey") % 100).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE),
            F.lit("<PHONE>"),
        ),
        F.lit(_PII_IP),
        F.lit("<IP>"),
    )
    return c.select(
        "c_custkey",
        F.regexp_count(raw, F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count(raw, F.lit(_PII_PHONE)).alias("n_phones"),
        F.regexp_count(raw, F.lit(_PII_IP)).alias("n_ips"),
        F.md5(scrubbed).alias("scrub_digest"),
    )


PIPE_PII_SCRUB_SQL = rf"""
WITH raw AS (
  SELECT c_custkey,
         'Contact ' || c_name || ' <' || lower(replace(c_name, '#', ''))
           || '@example.com> or +1-555-'
           || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
           || ' last seen from 10.' || CAST(c_custkey % 256 AS VARCHAR)
           || '.0.' || CAST(c_custkey % 100 AS VARCHAR) AS t
  FROM customer
)
SELECT c_custkey,
       len(regexp_extract_all(t, '{_PII_EMAIL}'))  AS n_emails,
       len(regexp_extract_all(t, '{_PII_PHONE}'))  AS n_phones,
       len(regexp_extract_all(t, '{_PII_IP}'))     AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g'))            AS scrub_digest
FROM raw"""


register("pipe_pii_scrub", pipe_pii_scrub, PIPE_PII_SCRUB_SQL)


# ---------------------------------------------------------------------------
# pipe_ccnet_buckets — CCNet-style quality partitioning: score every document
# with the corpus bigram-LM perplexity (text_bigram_lm), cut the score
# distribution into terciles, and report the head/middle/tail composition per
# language — the bucketing CCNet/CC-MultiLingual pipelines use to keep the
# most fluent third of a crawl and audit what each slice holds.  The tercile
# cut points are two exact percentiles over the per-doc scores (a one-row
# broadcast); bucket assignment is two comparisons against that row; the
# report is one aggregate.  At 100 TB the cuts swap to approx_percentile
# (mergeable sketch, same one-row broadcast shape) — exact here so the
# DuckDB oracle hash-matches.  Per-bucket means sum the 4-dp-rounded scores
# as DECIMAL so both engines agree bit-for-bit.  Documents with no bigrams
# (empty/one-token text) are unscorable and excluded, as in CCNet.
# ---------------------------------------------------------------------------


def pipe_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import bigram_lm_scores

    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    scored = bigram_lm_scores(spark, sf_dir).select("doc_id", "ppl")
    cuts = scored.agg(
        F.percentile("ppl", 1.0 / 3.0).alias("__q1"),
        F.percentile("ppl", 2.0 / 3.0).alias("__q2"),
    )
    bucket = (
        F.when(F.col("ppl") <= F.col("__q1"), "head")
        .when(F.col("ppl") <= F.col("__q2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .withColumn("bucket", bucket)
        .join(d, "doc_id")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("ppl").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_ppl"),
        )
    )


def _ccnet_sql() -> str:
    from .text import TEXT_BIGRAM_LM_SQL

    return f"""\
WITH scored AS (
  SELECT doc_id, ppl FROM ({TEXT_BIGRAM_LM_SQL})),
cuts AS (
  SELECT quantile_cont(ppl, 1.0/3.0) AS q1, quantile_cont(ppl, 2.0/3.0) AS q2
  FROM scored),
bucketed AS (
  SELECT doc_id, ppl,
         CASE WHEN ppl <= q1 THEN 'head'
              WHEN ppl <= q2 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM scored CROSS JOIN cuts)
SELECT d.lang, b.bucket, COUNT(*) AS n_docs,
       CAST(SUM(CAST(b.ppl AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_ppl
FROM bucketed b JOIN documents d USING (doc_id)
GROUP BY d.lang, b.bucket"""


register("pipe_ccnet_buckets", pipe_ccnet_buckets, _ccnet_sql())


# ---------------------------------------------------------------------------
# pipe_attrition_report — the quality-gate waterfall every corpus pipeline
# publishes with a release: how many documents survive each filter
# CUMULATIVELY (length → stopword ratio → token-length band → alpha ratio),
# so a sudden corpus regression localizes to the gate that caused it.  One
# pass: each stage is a conditional count over the same quality frame
# (conjunction of all gates up to that stage), emitted as an ordered
# waterfall via an inline stage table — no per-stage rescans, no unions of
# separate jobs.  Exact integer counts; drop share is one division at the
# end.
# ---------------------------------------------------------------------------

_ATTRITION_STAGES = (
    ("0_corpus", None),
    ("1_min_tokens", "n_tokens >= 20"),
    ("2_stopword_ratio", "stopword_ratio > 0.01"),
    ("3_token_len_band", "avg_token_len BETWEEN 3 AND 12"),
    ("4_alpha_ratio", "alpha_ratio > 0.6"),
)


def pipe_attrition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import quality_frame

    q = quality_frame(load_table(spark, "documents", sf_dir))
    agg = []
    conds = []
    for stage, cond in _ATTRITION_STAGES:
        if cond is not None:
            conds.append(cond)
        alive = F.expr(" AND ".join(conds)) if conds else F.lit(True)
        agg.append(F.sum(alive.cast("long")).alias(stage))
    wide = q.agg(*agg)
    stages = ", ".join(f"struct('{s}' AS stage, {s} AS n_docs)" for s, _ in _ATTRITION_STAGES)
    total = _ATTRITION_STAGES[0][0]
    return (
        wide.select(F.col(total).alias("__total"), F.explode(F.expr(f"array({stages})")).alias("s"))
        .select(
            F.col("s.stage").alias("stage"),
            F.col("s.n_docs").alias("n_docs"),
            (F.col("__total") - F.col("s.n_docs")).alias("n_dropped_total"),
            (F.col("s.n_docs").cast("double") / F.col("__total").cast("double")).alias(
                "survival_rate"
            ),
        )
    )


def _attrition_sql() -> str:
    conds: list[str] = []
    cols = []
    for stage, cond in _ATTRITION_STAGES:
        if cond is not None:
            conds.append(cond)
        alive = " AND ".join(conds) if conds else "TRUE"
        cols.append(
            # CAST: DuckDB types an uncast SUM(int) as HUGEINT (int128), which the
            # driver's value-hash serializes differently from Spark's BIGINT.
            f"CAST(SUM(CASE WHEN {alive} THEN 1 ELSE 0 END) AS BIGINT) AS \"{stage}\""
        )
    wide_cols = ",\n         ".join(cols)
    stage_rows = " UNION ALL ".join(
        f"SELECT '{s}' AS stage, \"{s}\" AS n_docs, \"0_corpus\" AS total FROM wide"
        for s, _ in _ATTRITION_STAGES
    )
    from .text import _STOPWORDS, _occurrences_sql

    stop_hits = ' + '.join(_occurrences_sql(f' {w} ') for w in _STOPWORDS)
    return f"""\
WITH t AS (
  SELECT len(string_split(text, ' ')) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars,
         {stop_hits} AS stop_hits
  FROM documents),
q AS (
  SELECT n_tokens,
         stop_hits * 1.0 / n_tokens               AS stopword_ratio,
         (n_chars - (n_tokens - 1)) * 1.0 / n_tokens AS avg_token_len,
         alpha_chars * 1.0 / n_chars              AS alpha_ratio
  FROM t),
wide AS (
  SELECT {wide_cols}
  FROM q)
SELECT stage, n_docs,
       total - n_docs AS n_dropped_total,
       CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS survival_rate
FROM ({stage_rows})"""


register("pipe_attrition_report", pipe_attrition_report, _attrition_sql())


# ---------------------------------------------------------------------------
# pipe_corpus_manifest — the END-TO-END training-corpus build in ONE query,
# composing the pipeline stages this module ships separately: quality
# filter + near-dup representative selection (pipe_corpus_filter) →
# benchmark decontamination (anti-join of pipe_decontaminate's contaminated
# set) → domain-mixture weights recomputed over the SURVIVING corpus (the
# weights a sampler multiplies in must reflect the post-filter mixture, not
# the raw one) → deterministic shard assignment (the md5 recipe of
# pipe_shard_shuffle).  The output is the manifest a trainer consumes: one
# row per surviving document with its language, source, token count,
# resampling weight and shard.  Every stage keeps its scale shape (postings
# joins, AQE-decided anti-joins, broadcast stratum/total tables); the final
# weight is a single double division (bit-stable) and the shard hash the
# proven cross-engine md5→48-bit-int recipe.  The DuckDB oracle nests the
# component oracles verbatim as subqueries — agreement certifies the whole
# composition, not just the pieces.
# ---------------------------------------------------------------------------


def pipe_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    base = pipe_corpus_filter(spark, sf_dir)
    contaminated = pipe_decontaminate(spark, sf_dir).select("doc_id")
    # clean is a NARROW metadata frame (doc_id, lang, n_tokens, source — no
    # document text) read twice: the mixture-weight strata and the final
    # manifest join.  Without a checkpoint the whole filter+decontaminate
    # pipeline executed once per reference (18 parquet scans, 21 exchanges,
    # zero reuse; round-14 profile) — materialize the metadata once
    # (guide §8: decide with small rows; the heavy text never moves twice).
    with generation("pipe_corpus_manifest") as pins:
        clean = (
            base.join(contaminated, "doc_id", "left_anti")
            .join(d.select("doc_id", "source"), "doc_id")
            .transform(pins.checkpoint, eager=False)
        )
    strata = clean.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("__n_str"))
    tot = strata.agg(
        F.sum("__n_str").alias("__total"), F.count(F.lit(1)).alias("__k")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("manifest|"), F.col("doc_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    return (
        clean.join(F.broadcast(strata), ["lang", "source"])
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            (
                F.col("__total").cast("double")
                / (F.col("__k") * F.col("__n_str")).cast("double")
            ).alias("weight"),
            (h % NUM_SHARDS).cast("int").alias("shard"),
        )
    )


def _corpus_manifest_sql() -> str:
    return f"""\
WITH base AS (
{_corpus_filter_sql()}
),
contaminated AS (
  SELECT doc_id FROM (
{PIPE_DECONTAMINATE_SQL}
  )),
clean AS (
  SELECT b.doc_id, b.lang, b.n_tokens, d.source
  FROM base b JOIN documents d USING (doc_id)
  WHERE NOT EXISTS (SELECT 1 FROM contaminated x WHERE x.doc_id = b.doc_id)),
strata AS (
  SELECT lang, source, COUNT(*) AS n_str FROM clean GROUP BY 1, 2),
tot AS (
  SELECT CAST(SUM(n_str) AS BIGINT) AS total, COUNT(*) AS k FROM strata)
SELECT c.doc_id, c.lang, c.source, c.n_tokens,
       CAST(t.total AS DOUBLE) / CAST(t.k * s.n_str AS DOUBLE) AS weight,
       CAST((('0x' || substr(md5('manifest|' || CAST(c.doc_id AS VARCHAR)), 1, 12))::BIGINT)
            % {NUM_SHARDS} AS INT) AS shard
FROM clean c
JOIN strata s USING (lang, source)
CROSS JOIN tot t"""


register("pipe_corpus_manifest", pipe_corpus_manifest, _corpus_manifest_sql())


# ---------------------------------------------------------------------------
# pipe_oversample_minority — deterministic class rebalancing for training
# mixtures: each language class is replicated up to the majority class's
# size with an INTEGER repetition factor k = ceil(max_count / count) (exact
# ceil on integers: (max + cnt - 1) DIV cnt), materialized by
# explode(sequence(1, k)) — the scale-safe oversampling shape (a row-local
# fan-out, no shuffle beyond the broadcast of the per-class factor table;
# at 100 TB the replicated copies never co-locate on one executor the way a
# collect-and-duplicate would).  Every copy is tagged with its index so
# downstream shuffling/sharding can de-correlate replicas.  The oracle
# re-derives factors and expands with generate_series.
# ---------------------------------------------------------------------------


def pipe_oversample_minority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    stats = d.groupBy("lang").agg(F.count(F.lit(1)).alias("__cnt"))
    # majority-class size via a GLOBAL window over the class-stats table —
    # bounded by the number of classes (tiny by definition), so the single-
    # partition window is safe at any corpus scale and avoids the one-row
    # scalar cross join (which plans as BNLJ and would trip the registry-
    # wide quadratic-join lint)
    factors = stats.withColumn(
        "__mx", F.max("__cnt").over(W.partitionBy())
    ).select(
        "lang",
        "__cnt",
        F.expr("(__mx + __cnt - 1) DIV __cnt").alias("rep_factor"),
    )
    return (
        d.join(F.broadcast(factors), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("__cnt").alias("class_size"),
            "rep_factor",
            F.explode(F.sequence(F.lit(1), F.col("rep_factor"))).alias("copy_idx"),
        )
        .select("doc_id", "lang", "class_size", "rep_factor", "copy_idx")
    )


PIPE_OVERSAMPLE_SQL = """\
WITH stats AS (SELECT lang, COUNT(*) AS class_size FROM documents GROUP BY lang),
mx AS (SELECT MAX(class_size) AS m FROM stats),
factors AS (
  SELECT lang, class_size,
         CAST((m + class_size - 1) // class_size AS BIGINT) AS rep_factor
  FROM stats CROSS JOIN mx)
SELECT d.doc_id, d.lang, f.class_size, f.rep_factor,
       CAST(u.copy_idx AS BIGINT) AS copy_idx
FROM documents d
JOIN factors f ON f.lang = d.lang,
     UNNEST(generate_series(1, f.rep_factor)) AS u(copy_idx)"""


register("pipe_oversample_minority", pipe_oversample_minority, PIPE_OVERSAMPLE_SQL)


# ---------------------------------------------------------------------------
# pipe_quality_classifier — MODEL INFERENCE AS A BROADCAST JOIN: a linear
# quality scorer whose weights live in a TABLE, not in the query text.
# Features melt to long form (doc_id, feature_id, x) via stack(), join the
# broadcast weight table, and the score is SUM(w·x) per document — the shape
# that scales to thousands of features and lets the "model" be swapped by
# replacing one tiny table (retrain → overwrite weights → same query).  All
# integer arithmetic (integer features, integer weights), so the whole
# inference path is oracle-checked; tiers cut at fixed score thresholds.
# Distinct from text_quality (per-doc ratio FEATURES): this is the scoring/
# serving layer on top of such features.
# ---------------------------------------------------------------------------

_QC_WEIGHTS = [("n_tokens", 3), ("n_chars", 1), ("n_distinct", 5), ("n_repeat", -7)]
_QC_HI = 420  # score thresholds bracketing the corpus median (~386)
_QC_LO = 300


def pipe_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    feats = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        (F.size(toks) - F.size(F.array_distinct(toks)))
        .cast("bigint")
        .alias("n_repeat"),
    )
    long = feats.selectExpr(
        "doc_id",
        "stack(4, 'n_tokens', n_tokens, 'n_chars', n_chars, "
        "'n_distinct', n_distinct, 'n_repeat', n_repeat) AS (fid, x)",
    )
    weights = spark.createDataFrame(_QC_WEIGHTS, "fid string, w bigint")
    scored = (
        long.join(F.broadcast(weights), "fid")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("x")).alias("score"))
    )
    return scored.select(
        "doc_id",
        "score",
        F.when(F.col("score") >= _QC_HI, "high")
        .when(F.col("score") >= _QC_LO, "mid")
        .otherwise("low")
        .alias("tier"),
    )


def _quality_classifier_sql() -> str:
    weight_rows = ", ".join(f"('{fid}', {w})" for fid, w in _QC_WEIGHTS)
    return f"""\
WITH feats AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT)                AS n_tokens,
         CAST(length(text) AS BIGINT)                                AS n_chars,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
         CAST(len(string_split(text, ' '))
              - len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_repeat
  FROM documents),
long AS (
  SELECT doc_id, 'n_tokens' AS fid, n_tokens AS x FROM feats
  UNION ALL SELECT doc_id, 'n_chars', n_chars FROM feats
  UNION ALL SELECT doc_id, 'n_distinct', n_distinct FROM feats
  UNION ALL SELECT doc_id, 'n_repeat', n_repeat FROM feats),
weights(fid, w) AS (VALUES {weight_rows}),
scored AS (
  SELECT l.doc_id, CAST(SUM(w.w * l.x) AS BIGINT) AS score
  FROM long l JOIN weights w USING (fid)
  GROUP BY l.doc_id)
SELECT doc_id, score,
       CASE WHEN score >= {_QC_HI} THEN 'high'
            WHEN score >= {_QC_LO} THEN 'mid'
            ELSE 'low' END AS tier
FROM scored"""


register("pipe_quality_classifier", pipe_quality_classifier, _quality_classifier_sql())


# ---------------------------------------------------------------------------
# pipe_token_dropout — deterministic DATA AUGMENTATION: each token is
# dropped with probability p by the md5-gate derandomization primitive
# (md5(doc_id ∥ position ∥ salt) — the same seeded-uniform trick as the
# samplers/bootstrap, so the "random" mask is reproducible, shardable, and
# fully oracle-checked; change the salt to draw a fresh augmentation).
# Token positions come from Spark's two-arg higher-order lambdas
# (filter(toks, (t, i) -> …)) — row-local JVM array work, no explode, no
# shuffle; the augmented text is re-assembled order-preserving and hashed
# so the exact augmented BYTES are part of the driver compare, not just
# counts.  At 100 TB this is the map-only augmentation stage of a training
# pipeline (epoch-varying salt ⇒ different masks per epoch, same plan).
# ---------------------------------------------------------------------------

DROPOUT_PCT = 15
DROPOUT_SALT = "aug1"


def pipe_token_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    gate = (
        f"CONV(SUBSTRING(MD5(CONCAT(CAST(doc_id AS STRING), '_', "
        f"CAST(i AS STRING), '{DROPOUT_SALT}')), 1, 8), 16, 10) % 100"
    )
    kept = F.expr(
        f"filter(split(text, ' '), (t, i) -> {gate} >= {DROPOUT_PCT})"
    )
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("int").alias("n_orig"),
        F.size(kept).cast("int").alias("n_kept"),
        F.md5(F.array_join(kept, " ").cast("binary")).alias("aug_md5"),
    )


PIPE_TOKEN_DROPOUT_SQL = f"""\
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
pos AS (
  SELECT doc_id, i, toks[i] AS tok, len(toks) AS n_orig
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
kept AS (
  SELECT doc_id, i, tok, n_orig
  FROM pos
  WHERE ('0x' || substr(md5(doc_id || '_' || (i - 1) || '{DROPOUT_SALT}'),
                        1, 8))::BIGINT % 100 >= {DROPOUT_PCT}),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INT)               AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY i)) AS aug_md5
  FROM kept GROUP BY doc_id)
-- LEFT JOIN back to documents: a doc whose every token drops must still
-- emit (n_kept=0, md5('')) like the Spark side, not vanish from the GROUP BY
SELECT t.doc_id,
       CAST(len(t.toks) AS INT)        AS n_orig,
       COALESCE(a.n_kept, 0)           AS n_kept,
       COALESCE(a.aug_md5, md5(''))    AS aug_md5
FROM t LEFT JOIN agg a USING (doc_id)"""


register("pipe_token_dropout", pipe_token_dropout, PIPE_TOKEN_DROPOUT_SQL)


# ---------------------------------------------------------------------------
# pipe_dp_noise — differentially-private release of per-(lang, source)
# document counts via the TRUNCATED TWO-SIDED GEOMETRIC mechanism (the
# integer-valued discrete Laplace, Ghosh–Roughgarden–Sundararajan): noise k
# has mass ∝ α^|k| with α = e^(−ε), ε = 1, support clipped to ±8 with the
# tails folded onto the boundary.  The draw is DERANDOMIZED with the repo's
# md5→48-bit-uniform primitive keyed by the group (salted, so a release
# epoch can re-draw), and the inverse CDF is a CASE ladder over integer
# thresholds PRECOMPUTED at module import and baked as literals into BOTH
# the Spark expression and the DuckDB oracle — identical constants, no
# runtime floats, exact hash parity.  Released count clamps at zero
# (post-processing keeps DP).  One aggregate + a map-only noise expression:
# the noise step costs O(groups), never O(rows) — the 100 TB shape for
# privacy-screened corpus stats.
# ---------------------------------------------------------------------------

DP_SALT = "dpnoise1"
_DP_B = 8  # truncation bound


def _dp_thresholds() -> list[int]:
    """Cumulative inverse-CDF thresholds of the truncated two-sided
    geometric at 2^48 scale: noise = min k in [-B, B] with u48 < T[k]."""
    import math

    alpha = math.exp(-1.0)  # epsilon = 1
    # untruncated masses; fold tails onto +/-B.  tail = alpha^B/(1+alpha)
    # IS P(X >= B) inclusive of k = B already, so the boundary gets exactly
    # that mass (adding the k = B point mass again would double-count it);
    # the masses then sum to 1 analytically and /total is fp-safety only.
    mass = {k: (1 - alpha) / (1 + alpha) * alpha ** abs(k)
            for k in range(-_DP_B + 1, _DP_B)}
    tail = alpha ** _DP_B / (1 + alpha)  # P(X <= -B) == P(X >= B)
    mass[-_DP_B] = mass[_DP_B] = tail
    total = sum(mass.values())
    acc, out = 0.0, []
    for k in range(-_DP_B, _DP_B + 1):
        acc += mass[k] / total
        out.append(min(int(acc * 2**48), 2**48))
    out[-1] = 2**48  # exact top: ELSE branch is never short
    return out


_DP_T = _dp_thresholds()
_DP_CASE = (
    "CASE "
    + " ".join(
        f"WHEN u48 < {t} THEN {k}"
        for k, t in zip(range(-_DP_B, _DP_B), _DP_T[:-1])
    )
    + f" ELSE {_DP_B} END"
)


def pipe_dp_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    g = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("true_n"))
    g = g.withColumn(
        "u48",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(DP_SALT), "lang", "source")), 1, 12
            ),
            16,
            10,
        ).cast("bigint"),
    ).withColumn("noise", F.expr(_DP_CASE))
    return g.select(
        "lang",
        "source",
        "true_n",
        "noise",
        F.greatest(F.col("true_n") + F.col("noise"), F.lit(0)).alias("released_n"),
    )


PIPE_DP_NOISE_SQL = f"""\
WITH g AS (
  SELECT lang, source, COUNT(*) AS true_n
  FROM documents GROUP BY 1, 2),
u AS (
  SELECT lang, source, true_n,
         ('0x' || substr(md5('{DP_SALT}' || '|' || lang || '|' || source),
                         1, 12))::BIGINT AS u48
  FROM g),
n AS (SELECT lang, source, true_n, {_DP_CASE} AS noise FROM u)
SELECT lang, source, true_n, noise,
       greatest(true_n + noise, 0) AS released_n
FROM n"""


register("pipe_dp_noise", pipe_dp_noise, PIPE_DP_NOISE_SQL)


# ---------------------------------------------------------------------------
# pipe_bloom_decontaminate — the BLOOM-FILTER fast path for benchmark
# decontamination (pipe_decontaminate is the exact inverted-index join; at
# 100 TB the cheaper first pass is "does this shingle hit the eval-set
# Bloom filter?", with the exact join run only on flagged docs).  Spark's
# internal bloom_filter_agg/might_contain are not SQL-registered in this
# runtime (probed), and their sketch wouldn't be oracle-portable anyway —
# so the filter is built RELATIONALLY from the repo's proven primitives:
# K md5-derived positions per shingle (the cross-engine md5→48-bit recipe)
# over an M-bit space stored as 64-bit words via the bitmap tier's
# shift/mask encoding (bit_or(1 << (h & 63)) per word h >> 6).  Both
# engines derive IDENTICAL words, so the flag set — false positives
# included — is deterministic and fully hash-compared; no error envelope
# needed, and "Bloom filters have no false negatives" is asserted from the
# data (bool_and over the exact-contaminated set), not assumed.
# Scale shape: the filter is |M|/64 ≤ 16,384 words regardless of corpus
# size (broadcast), probes fan out K× per train shingle (map-side), and
# the exact join that pipe_decontaminate pays on EVERYTHING would run only
# on the flagged slice.  Production sizes M from the eval-set cardinality
# (kn/m here ≈ 0.04 at sf0.01); the fixed M is part of the oracle contract.
# ---------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 20  # 16,384 words of 64 bits
BLOOM_K = 4


def pipe_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import shingle_postings

    sh = shingle_postings(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_SLICE_MOD == 0
    eval_s = sh.filter(is_eval).select("s").distinct()
    train = sh.filter(~is_eval).select("doc_id", "s")

    hexpr = (
        f"CONV(SUBSTRING(MD5(CONCAT(s, '#', CAST(j AS STRING))), 1, 12), 16, 10) "
        f"% {BLOOM_M_BITS}"
    )
    ks = F.explode(F.array(*[F.lit(j) for j in range(BLOOM_K)])).alias("j")

    words = (
        eval_s.select("s", ks)
        .select(F.expr(hexpr).cast("bigint").alias("h"))
        .select(
            F.expr("shiftright(h, 6)").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST((h & 63) AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    probes = (
        train.select("doc_id", "s", ks)
        .withColumn("h", F.expr(hexpr).cast("bigint"))
        .join(F.broadcast(words), F.expr("shiftright(h, 6)") == F.col("w"), "left")
        .select(
            "doc_id",
            "s",
            F.coalesce(
                F.expr("(shiftright(bits, CAST((h & 63) AS INT)) & 1) = 1"),
                F.lit(False),
            ).alias("bit_set"),
        )
    )
    s_hit = probes.groupBy("doc_id", "s").agg(F.bool_and("bit_set").alias("s_hit"))
    flags = s_hit.groupBy("doc_id").agg(F.bool_or("s_hit").alias("flagged"))
    exact = (
        train.join(eval_s, "s", "semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_exact", F.lit(True))
    )
    d = flags.join(exact, "doc_id", "left").select(
        "flagged", F.coalesce(F.col("is_exact"), F.lit(False)).alias("is_exact")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.count_if(F.col("is_exact")).alias("n_exact_contaminated"),
        F.count_if(F.col("flagged")).alias("n_bloom_flagged"),
        F.count_if(F.col("flagged") & ~F.col("is_exact")).alias("n_false_positives"),
        F.bool_and(~F.col("is_exact") | F.col("flagged")).alias("no_false_negatives"),
    )


def _bloom_decontaminate_sql() -> str:
    from .dedup import _SHINGLES_SQL

    # DuckDB raises on 1::BIGINT << 63 (Spark's shiftleft wraps to min-long),
    # so the build spells the sign bit as the literal; the PROBE uses >> so
    # no CASE is needed there (arithmetic shift keeps bit j at position 0).
    return f"""\
WITH sh AS ({_SHINGLES_SQL}),
ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_SLICE_MOD} = 0),
tr AS (SELECT doc_id, s FROM sh WHERE doc_id % {EVAL_SLICE_MOD} <> 0),
epos AS (
  SELECT (('0x' || substr(md5(s || '#' || j), 1, 12))::BIGINT) % {BLOOM_M_BITS} AS h
  FROM ev, unnest([0, 1, 2, 3]) AS u(j)),
words AS (
  SELECT h >> 6 AS w,
         bit_or(CASE WHEN (h & 63) = 63 THEN (-9223372036854775807::BIGINT - 1)
                     ELSE (1::BIGINT << CAST((h & 63) AS INT)) END) AS bits
  FROM epos GROUP BY 1),
tpos AS (
  SELECT doc_id, s,
         (('0x' || substr(md5(s || '#' || j), 1, 12))::BIGINT) % {BLOOM_M_BITS} AS h
  FROM tr, unnest([0, 1, 2, 3]) AS u(j)),
probe AS (
  SELECT t.doc_id, t.s,
         COALESCE(((w.bits >> CAST((t.h & 63) AS INT)) & 1) = 1, FALSE) AS bit_set
  FROM tpos t LEFT JOIN words w ON w.w = (t.h >> 6)),
shit AS (SELECT doc_id, s, bool_and(bit_set) AS s_hit FROM probe GROUP BY 1, 2),
flags AS (SELECT doc_id, bool_or(s_hit) AS flagged FROM shit GROUP BY doc_id),
ex AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON ev.s = tr.s),
d AS (
  SELECT f.flagged, (e.doc_id IS NOT NULL) AS is_exact
  FROM flags f LEFT JOIN ex e ON e.doc_id = f.doc_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_train_docs,
       CAST(COUNT(*) FILTER (WHERE is_exact) AS BIGINT) AS n_exact_contaminated,
       CAST(COUNT(*) FILTER (WHERE flagged) AS BIGINT) AS n_bloom_flagged,
       CAST(COUNT(*) FILTER (WHERE flagged AND NOT is_exact) AS BIGINT)
         AS n_false_positives,
       bool_and(NOT is_exact OR flagged) AS no_false_negatives
FROM d"""


register("pipe_bloom_decontaminate", pipe_bloom_decontaminate, _bloom_decontaminate_sql())


# ---------------------------------------------------------------------------
# pipe_temperature_mix — TEMPERATURE-BASED domain reweighting (w ∝ n^τ with
# τ = 1/2): the multilingual-LM sampling standard (mBERT/XLM-R style) that
# up-samples small domains less aggressively than pipe_doc_mixture's
# uniform target.  n^(1/2) is irrational, so the exactness discipline needs
# an EXACT INTEGER SQUARE ROOT: s₀ = floor(sqrt(double(n))) is within ±1 of
# isqrt(n) for n < 2⁵² (IEEE sqrt is correctly rounded in both engines),
# and one two-sided clamp — +1 if (s₀+1)² ≤ n, −1 if s₀² > n — lands it
# exactly, independent of any last-ulp libm difference.  Weights and the
# per-doc multiply-in factor (target_share/observed_share) are then plain
# integer rationals: w_bps = s·10⁴ DIV Σs and factor_e6 = s·total·10⁶ DIV
# (Σs·n), DECIMAL(38,0)-widened for the triple product.  One stratum
# aggregate + one broadcast — nothing grows with corpus size past the
# first rollup.
# ---------------------------------------------------------------------------


def _isqrt_sql(n: str) -> str:
    """Exact integer sqrt of the BIGINT expression ``n`` (identical text in
    Spark SQL and DuckDB: FLOOR/SQRT/CASE only)."""
    s0 = f"CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s0} + 1) * ({s0} + 1) <= {n} THEN {s0} + 1 "
        f"WHEN {s0} * {s0} > {n} THEN {s0} - 1 ELSE {s0} END)"
    )


def pipe_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    strata = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    s = strata.withColumn("sqrt_n", F.expr(_isqrt_sql("n_docs")))
    tot = s.agg(
        F.sum("n_docs").alias("__total"), F.sum("sqrt_n").alias("__ssum")
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            "sqrt_n",
            F.expr("sqrt_n * 10000 DIV __ssum").alias("w_bps"),
            F.expr(
                "CAST(CAST(sqrt_n AS DECIMAL(38,0)) * __total * 1000000 "
                "DIV (CAST(__ssum AS DECIMAL(38,0)) * n_docs) AS BIGINT)"
            ).alias("factor_e6"),
        )
    )


PIPE_TEMPERATURE_MIX_SQL = f"""\
WITH strata AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source),
s AS (SELECT lang, source, n_docs, {_isqrt_sql("n_docs")} AS sqrt_n FROM strata),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
               CAST(SUM(sqrt_n) AS BIGINT) AS ssum FROM s)
SELECT s.lang, s.source, s.n_docs, s.sqrt_n,
       s.sqrt_n * 10000 // t.ssum AS w_bps,
       CAST(CAST(s.sqrt_n AS HUGEINT) * t.total * 1000000
            // (CAST(t.ssum AS HUGEINT) * s.n_docs) AS BIGINT) AS factor_e6
FROM s CROSS JOIN tot t"""


register("pipe_temperature_mix", pipe_temperature_mix, PIPE_TEMPERATURE_MIX_SQL)


# ---------------------------------------------------------------------------
# pipe_dataset_checksum — ORDER-INDEPENDENT dataset fingerprint: the
# snapshot-identity certificate a training pipeline stores beside every
# corpus version ("is the table I trained on bit-identical to the one you
# audited?").  Each row is canonically serialized (NULL-safe: NULLs map to
# a reserved token, fields joined with '|' — a fingerprint contract, not a
# parser; a crafted '|' collision is acceptable for audit purposes) and
# md5-hashed; two independent 48-bit slices of the digest are folded with
# BIT_XOR — commutative/associative, so the fingerprint is invariant to
# row order, partitioning, and parallelism, and any single-row change
# flips it with probability 1 - 2^-96.  XOR alone is blind to DUPLICATED
# rows (x XOR x = 0), so the row count rides beside it — together they pin
# multiset identity for practical auditing.  Reported per language plus a
# corpus-total row (ROLLUP), so a partial re-crawl localizes to the
# language that moved.  Map-only + one rollup aggregate: nothing grows
# with data size past the scan.
# ---------------------------------------------------------------------------

_CK_NULL = "<NULL>"


def pipe_dataset_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    row_ser = F.concat_ws(
        "|",
        F.coalesce(F.col("doc_id").cast("string"), F.lit(_CK_NULL)),
        F.coalesce(F.col("text"), F.lit(_CK_NULL)),
        F.coalesce(F.col("lang"), F.lit(_CK_NULL)),
        F.coalesce(F.col("source"), F.lit(_CK_NULL)),
        F.coalesce(F.col("n_chars").cast("string"), F.lit(_CK_NULL)),
    )
    h = d.select("lang", F.md5(row_ser.cast("binary")).alias("hx")).select(
        "lang",
        F.conv(F.substring("hx", 1, 12), 16, 10).cast("bigint").alias("h_a"),
        F.conv(F.substring("hx", 13, 12), 16, 10).cast("bigint").alias("h_b"),
    )
    return (
        h.rollup("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("h_a").alias("xor48_a"),
            F.bit_xor("h_b").alias("xor48_b"),
            F.grouping("lang").alias("__g"),
        )
        .select(
            # GROUPING() tells the grand-total row apart from a genuine
            # NULL-lang group (COALESCE alone would collide the two scopes)
            F.when(F.col("__g") == 1, F.lit("__total__"))
            .otherwise(F.coalesce(F.col("lang"), F.lit(_CK_NULL)))
            .alias("scope"),
            "n_rows",
            "xor48_a",
            "xor48_b",
        )
    )


PIPE_DATASET_CHECKSUM_SQL = f"""\
WITH h AS (
  SELECT lang,
         md5(COALESCE(CAST(doc_id AS VARCHAR), '{_CK_NULL}') || '|' ||
             COALESCE(text, '{_CK_NULL}') || '|' ||
             COALESCE(lang, '{_CK_NULL}') || '|' ||
             COALESCE(source, '{_CK_NULL}') || '|' ||
             COALESCE(CAST(n_chars AS VARCHAR), '{_CK_NULL}')) AS hx
  FROM documents),
i AS (
  SELECT lang,
         ('0x' || substr(hx, 1, 12))::BIGINT  AS h_a,
         ('0x' || substr(hx, 13, 12))::BIGINT AS h_b
  FROM h)
SELECT CASE WHEN GROUPING(lang) = 1 THEN '__total__'
            ELSE COALESCE(lang, '{_CK_NULL}') END AS scope,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h_a) AS BIGINT) AS xor48_a,
       CAST(bit_xor(h_b) AS BIGINT) AS xor48_b
FROM i GROUP BY ROLLUP (lang)"""


register("pipe_dataset_checksum", pipe_dataset_checksum, PIPE_DATASET_CHECKSUM_SQL)


# ---------------------------------------------------------------------------
# pipe_epoch_shuffle — the data-loader's DETERMINISTIC epoch shuffle
# (complements pipe_shard_shuffle, which assigns ONE static shard+position
# layout: here the ORDER must change per epoch while staying reproducible —
# multi-epoch training re-permutes the corpus every pass): each
# training epoch reads the corpus in the order of md5('epoch'||e||':'||doc_id)
# (a reproducible permutation per epoch, different across epochs — the
# standard seeded-shuffle contract, expressed relationally so any worker can
# compute its own slice without coordination).  Because the order IS the
# hash order, a contiguous position range is exactly a hash-prefix range —
# so the permutation is certified WITHOUT any global sort: bucket = first
# byte of the hash (256 contiguous order slices), and per (epoch, bucket)
# the report carries the slice size plus an order-independent BIT_XOR
# fingerprint of doc_ids.  Identical hashes in both engines make the whole
# report hash-exact, and disjoint epochs provably differ (different buckets
# ↔ different membership fingerprints).  Scale shape: map-only hash + one
# bounded aggregate (512 output rows for 2 epochs) — no sort, no window, no
# shuffle beyond the rollup; at 100 TB a loader shards by the same hash
# prefix and never materializes a global order.
# ---------------------------------------------------------------------------

SHUFFLE_EPOCHS = 2


def pipe_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir).select("doc_id")
    epochs = d.select(
        "doc_id",
        F.explode(F.array(*[F.lit(e) for e in range(SHUFFLE_EPOCHS)])).alias("epoch"),
    )
    h = F.md5(
        F.concat(
            F.lit("epoch"),
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    bucketed = epochs.select(
        "epoch",
        "doc_id",
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bucket"),
    )
    return bucketed.groupBy("epoch", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.bit_xor("doc_id").alias("xor_doc_ids"),
    )


PIPE_EPOCH_SHUFFLE_SQL = f"""\
WITH b AS (
  SELECT e.e AS epoch, doc_id,
         ('0x' || substr(md5('epoch' || e.e || ':' || doc_id), 1, 2))::INT AS bucket
  FROM documents CROSS JOIN range(0, {SHUFFLE_EPOCHS}) e(e))
SELECT CAST(epoch AS INT) AS epoch, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(bit_xor(doc_id) AS BIGINT) AS xor_doc_ids
FROM b GROUP BY epoch, bucket"""


register("pipe_epoch_shuffle", pipe_epoch_shuffle, PIPE_EPOCH_SHUFFLE_SQL)


# ---------------------------------------------------------------------------
# pipe_minhash_incremental — CDC-fed near-dup pair maintenance (round 13).
#
# The production shape for a LIVING corpus: the near-dup index (band buckets,
# per-bucket candidate pairs, verified pair table) is a MAINTAINED artifact;
# when an insert batch arrives, only the buckets a new document lands in are
# recomputed, only genuinely new candidate pairs are Jaccard-verified, and
# the refreshed pair table is exactly what a from-scratch rebuild would
# produce. The insert batch is simulated deterministically as
# doc_id % DELTA_MOD == 0 (the CDC "new arrivals" slice); everything else is
# the pre-indexed base corpus.
#
# EXACTNESS ARGUMENT (window cap included): the candidate set is, by
# construction, the union over buckets of sorted-neighborhood windowed pairs
# of that bucket's membership. A bucket with no delta member has identical
# membership before and after the batch → identical pairs (kept from the
# store, no recompute). A dirty bucket is recomputed over its FULL
# membership (base members fetched from the maintained band index + delta
# members). The per-bucket provenance store (band, key, doc_a, doc_b) makes
# the clean/dirty split sound where a DISTINCT pair set would not be: a pair
# contributed by both a clean and a dirty bucket survives via its clean row.
# Verification is per-pair-static (Jaccard of two fixed shingle sets), so
# base verdicts are reused verbatim and only NEW distinct pairs pay a
# verify; base pairs whose every contributing bucket ordering shifted them
# out of the window (possible only in buckets larger than
# LSH_BUCKET_WINDOW) drop via the semi-join against the refreshed candidate
# set. Hence output ≡ full recompute — the DuckDB oracle IS the
# full-recompute mirror (_minhash_sql), not a mirror of the delta algebra.
#
# At 100 TB: the delta pays |batch| shingling + signatures, one semi-join
# into the band-bucket index (partitioned on (band, key) — bucket fetches
# are co-located), windowed pairing of dirty buckets only, and verification
# of new pairs only; shingle sets for verification are fetched for the
# involved doc_ids alone (semi-join into the posting index). Nothing scans
# the base corpus. The provenance store is the one scale tradeoff vs the
# batch path: it keeps per-band rows (≤ BANDS× the distinct pair count)
# because class-dedup would erase exactly the provenance incrementality
# needs — the standard price of an updatable LSH index.
# ---------------------------------------------------------------------------

DELTA_MOD = 20  # doc_id % DELTA_MOD == 0 → the simulated CDC insert batch


def _delta_pred():
    return (F.col("doc_id") % DELTA_MOD) == 0


def _windowed_bucket_pairs(members: DataFrame) -> DataFrame:
    """Sorted-neighborhood windowed pairs PER BUCKET, keeping (band, key)
    provenance (dedup.minhash_pairs drops it via DISTINCT)."""
    return bucket_window_join(members).select(
        F.col("a.band").alias("band"),
        F.col("a.key").alias("key"),
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )


def _incr_base_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained band-bucket index over the BASE corpus, partitioned on
    (band, key) so delta bucket fetches and pair windows are co-located."""
    from .dedup import lsh_bands, shingle_postings
    from .session_cache import session_cached

    def build() -> DataFrame:
        base_sh = shingle_postings(spark, sf_dir).filter(~_delta_pred())
        return lsh_bands(base_sh).repartition("band", "key").persist()

    return session_cached("mh_incr_base_bands", spark, sf_dir, build)


def _incr_base_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained per-bucket candidate store (band, key, doc_a, doc_b)."""
    from .session_cache import session_cached

    def build() -> DataFrame:
        return _windowed_bucket_pairs(_incr_base_bands(spark, sf_dir)).persist()

    return session_cached("mh_incr_base_cands", spark, sf_dir, build)


def _incr_base_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained verified pair table over the base corpus."""
    from .dedup import _corpus_is_big, _verify_candidates, shingle_postings
    from .session_cache import session_cached

    def build() -> DataFrame:
        base_sh = shingle_postings(spark, sf_dir).filter(~_delta_pred())
        cand = _incr_base_cands(spark, sf_dir).select("doc_a", "doc_b").distinct()
        return checkpoint(
            _verify_candidates(base_sh, cand, big=_corpus_is_big(sf_dir)), disk=True
        )

    return session_cached("mh_incr_base_pairs", spark, sf_dir, build)


def refresh_pair_store(
    spark: SparkSession,
    bands0: DataFrame,
    cands0: DataFrame,
    pairs0: DataFrame,
    delta_docs: DataFrame,
    postings_all: DataFrame,
    big: bool,
    pins: Pins,
) -> dict[str, DataFrame]:
    """ONE exact maintenance step of the near-dup pair store: given a store
    {bands0 (band index), cands0 (per-bucket provenance candidates), pairs0
    (verified pairs)} that is correct for some corpus C, and a batch of NEW
    documents, produce the dataflow frames whose legs make up the refreshed
    store correct for C ∪ batch — bands0 ∪ delta_bands,
    kept_cands ∪ cand_dirty and kept_base ∪ fresh_verified; each caller
    assembles it from the legs it materializes.  The exactness argument
    is the pipe_minhash_incremental header above; because each step's
    postcondition is the next step's precondition, the refresh FOLDS over
    any sequence of disjoint batches — which is what the streaming
    maintenance cert (streaming/maintenance.py) exercises.

    ``postings_all`` must cover C ∪ batch (verification fetches shingle
    sets for involved doc_ids via a semi-join into it).

    The batch working set (delta band rows, the fresh-pair list) is
    MATERIALIZED eagerly: it is |batch|-sized, every downstream stage reads
    it several times, and leaving it lazy duplicates the delta subtree
    combinatorially (measured: >1,000 copies of the delta scan in one lazy
    plan). Every frame the refresh materializes is pinned in ``pins``, so
    the caller releases the working set once the refreshed store is
    materialized, keeping the frames it adopts into the store — the same
    discipline as dedup.minhash_pairs.  The maintenance path is a chain of
    small blocking jobs whose cost is scheduling latency, not compute, so
    the independent ones run concurrently (iterutil.overlap)."""
    from .dedup import CC_BROADCAST_MAX_ROWS, _shingles, _verify_candidates, lsh_bands

    def _gated(df: DataFrame, n: int) -> DataFrame:
        """Broadcast a materialized batch-derived side when its MEASURED
        size allows (the CC-loop discipline): the store-side scans then
        plan as shuffle-free broadcast probes instead of whatever a
        statistics-blind planner picks for a bare LogicalRDD (Catalyst
        defaults checkpointed frames to huge ⇒ sort-merge ⇒ a full
        exchange of the corpus-sized store per batch)."""
        return F.broadcast(df) if n <= CC_BROADCAST_MAX_ROWS else df

    pair_key = ["doc_a", "doc_b"]
    delta_sh = _shingles(delta_docs)
    # the band chain and the id-list chain are independent until ``fresh``
    # — materialize them concurrently (round 13)
    def _band_chain():
        delta_bands = pins.checkpoint(lsh_bands(delta_sh), disk=True)
        # read by FOUR joins below — materialize once, size once
        dirty = pins.checkpoint(delta_bands.select("band", "key").distinct(), disk=True)
        return delta_bands, dirty, dirty.count()

    def _id_chain():
        delta_ids = pins.checkpoint(delta_docs.select("doc_id").distinct(), disk=True)
        return delta_ids, delta_ids.count()

    (delta_bands, dirty, n_dirty), (delta_ids, n_delta) = overlap(
        _band_chain, _id_chain
    )
    bdirty = _gated(dirty, n_dirty)
    dirty_members = bands0.join(bdirty, ["band", "key"], "left_semi").unionByName(
        delta_bands
    )
    # read by the fresh leg, the survivor leg and the refreshed candidate
    # store — materialize once
    cand_dirty = pins.checkpoint(_windowed_bucket_pairs(dirty_members), disk=True)
    kept_cands = cands0.join(bdirty, ["band", "key"], "left_anti")

    # FRESH pairs without any store-sized shuffle (round-13 profile: the
    # previous form's ``distinct`` + anti-join over the FULL candidate
    # store was the dominant per-batch cost — O(|store|) shuffles for a
    # |batch|-bounded answer).  Window-monotonicity lemma: within one
    # bucket ordered by doc_id, inserting members can only GROW the rank
    # distance between two existing members, so a base–base pair in a
    # recomputed dirty window was already in that same bucket's old window
    # — i.e. every genuinely new candidate pair involves a batch document,
    # and batch doc_ids are disjoint from the base corpus, so none of
    # these can already be in the store.  Hence
    #   fresh = distinct pairs of cand_dirty touching a batch doc,
    # built by two broadcast semi-joins against the |batch|-sized id list.
    da = _gated(delta_ids.select(F.col("doc_id").alias("doc_a")), n_delta)
    db = _gated(delta_ids.select(F.col("doc_id").alias("doc_b")), n_delta)
    cd_pairs = cand_dirty.select(*pair_key)

    # ``fresh`` (added-pair list) and ``pairs_at_risk`` (removal candidates)
    # both hang off cand_dirty but not off each other — overlap their
    # materializations too
    def _fresh_chain():
        return pins.checkpoint(
            cd_pairs.join(da, "doc_a", "left_semi")
            .unionByName(cd_pairs.join(db, "doc_b", "left_semi"))
            .distinct(),
            disk=True,
        )

    def _risk_chain():
        dirty_prov = cands0.join(bdirty, ["band", "key"], "left_semi")
        pairs_at_risk = pins.checkpoint(dirty_prov.select(*pair_key).distinct(), disk=True)
        return pairs_at_risk, pairs_at_risk.count()

    fresh, (pairs_at_risk, n_risk) = overlap(_fresh_chain, _risk_chain)

    # The VERIFY leg (fetch involved shingle sets, score the fresh pairs)
    # and the REMOVAL chain below are independent once ``fresh`` and
    # ``pairs_at_risk`` exist — materialize them concurrently (round 14,
    # guide §2.6: the verify job was serialized behind the removal chain,
    # the longest single piece of the fold's critical path).  The verified
    # fresh-pair table comes back CHECKPOINTED: both callers adopt it into
    # the refreshed store as a bare-LogicalRDD union leg (no union-sized
    # rewrite of kept_base + fresh rows), keeping it at release.
    def _verify_leg() -> DataFrame:
        # verification fetches shingle sets for the INVOLVED doc_ids only,
        # via a semi-join into the maintained posting index (base + delta)
        involved = (
            fresh.select(F.col("doc_a").alias("doc_id"))
            .unionByName(fresh.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sh_involved = postings_all.join(involved, "doc_id", "left_semi")
        return pins.checkpoint(_verify_candidates(sh_involved, fresh, big=big), disk=True)

    # REMOVED pairs, same discipline: a verified base pair can drop out
    # only if EVERY bucket that contributed it is dirty and none of the
    # recomputed dirty windows re-paired it — which is exactly what the
    # per-bucket provenance store answers.  pairs_at_risk (distinct pairs
    # with ≥1 dirty provenance row) and its refinements are bounded by the
    # batch's bucket fan-out; the two cands0 passes are shuffle-free scans
    # probing small build sides, and the final anti-join against ``removed``
    # is a broadcast probe of the base pair table — no store-sized shuffle
    # anywhere on the maintenance path.
    def _removed_leg() -> tuple[DataFrame, int]:
        brisk = _gated(pairs_at_risk, n_risk)
        prov_of_risky = cands0.join(brisk, pair_key, "left_semi")
        clean_contrib = (
            prov_of_risky.join(bdirty, ["band", "key"], "left_anti")
            .select(*pair_key)
            .distinct()
        )
        removed = pins.checkpoint(
            pairs_at_risk.join(cd_pairs, pair_key, "left_anti").join(
                clean_contrib, pair_key, "left_anti"
            ),
            disk=True,
        )
        return removed, removed.count()

    fresh_verified, (removed, n_removed) = overlap(_verify_leg, _removed_leg)
    kept_base = pairs0.join(_gated(removed, n_removed), pair_key, "left_anti")
    return {
        "delta_bands": delta_bands,
        "dirty": dirty,
        "dirty_members": dirty_members,
        "fresh": fresh,
        "fresh_verified": fresh_verified,
        "removed": removed,
        "kept_base": kept_base,
        "kept_cands": kept_cands,
        "cand_dirty": cand_dirty,
    }


def _incr_delta_frames(
    spark: SparkSession, sf_dir: str, pins: Pins
) -> dict[str, DataFrame]:
    """The one-shot delta-maintenance dataflow over the session-cached base
    artifacts — refresh_pair_store applied to the simulated CDC batch,
    exposed piecewise so tests can pin that each stage touches only
    delta-derived work."""
    from .dedup import _corpus_is_big, shingle_postings

    docs = load_table(spark, "documents", sf_dir)
    return refresh_pair_store(
        spark,
        _incr_base_bands(spark, sf_dir),
        _incr_base_cands(spark, sf_dir),
        _incr_base_pairs(spark, sf_dir),
        docs.filter(_delta_pred()),
        shingle_postings(spark, sf_dir),
        big=_corpus_is_big(sf_dir),
        pins=pins,
    )


def pipe_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refreshed verified pair table after applying the CDC batch — the
    family's 4th maintained artifact (the batch working set is released once
    it's materialized).

    Every invocation PERFORMS the refresh (a timed run prices the delta
    fold).  One generation is live: the result's two legs are the call's
    generation (``iterutil.generation``), so a frame kept from an earlier
    call cannot be read after a later call — its blocks are gone."""
    with generation("pipe_minhash_incremental") as pins:
        frames = _incr_delta_frames(spark, sf_dir, pins)
        # kept leg checkpointed separately; the fresh leg comes back already
        # checkpointed from the refresh — the result is a union of two bare
        # LogicalRDDs (the stream fold's pattern), so the refreshed table is
        # never rewritten a second time just to union its legs
        kept = pins.checkpoint(frames["kept_base"], disk=True)
        pins.release(kept, frames["fresh_verified"])
    return kept.unionByName(frames["fresh_verified"])


def _minhash_incremental_sql() -> str:
    # full-recompute mirror: the incremental result must be bit-identical to
    # a from-scratch rebuild of the verified pair table
    from .dedup import _minhash_sql

    return _minhash_sql()


register(
    "pipe_minhash_incremental", pipe_minhash_incremental, _minhash_incremental_sql()
)


# ---------------------------------------------------------------------------
# pipe_cc_incremental — incremental cluster-label maintenance (round 13).
#
# The companion to pipe_minhash_incremental: once the pair table is
# maintained incrementally, the CLUSTER LABELS over it should be too —
# re-running connected components over the whole refreshed graph after every
# CDC batch throws away the fact that most components didn't change.
#
# EXACTNESS ARGUMENT: let P0 be the base pair table with correct labeling
# L0 (cluster_id = min doc_id of the component), and P1 the refreshed table.
# Define added = P1 \ P0, removed = P0 \ P1, and A = the set of OLD labels
# of every endpoint of added ∪ removed that has one (brand-new docs have no
# old label and need none — every edge they touch is an added edge).  Then:
#   (1) every edge of P1 either is a kept base edge — whose endpoints share
#       ONE old label, because L0 is edge-closed over P0 — or is an added
#       edge, whose old-doc endpoints' labels are in A by construction;
#   (2) an unaffected component (label ∉ A) lost no edge (a removed edge
#       would put its label in A) and gained no edge, so its membership and
#       min-doc-id label are unchanged — L0 restricted to it is final;
#   (3) the affected subgraph — all P1 edges with doc_a new or labeled in A
#       — is vertex-disjoint from the unaffected components (a kept edge
#       into one would share its label; an added edge endpoint's label is
#       in A), so recomputing CC on it alone yields exactly the full
#       recompute's labels for those vertices.
# Hence kept labels ∪ subgraph labels ≡ connected_components(P1), and the
# DuckDB oracle is the FULL-RECOMPUTE mirror (dedup's _cc_sql over the whole
# corpus — base + delta = all documents), not a mirror of the delta algebra.
# No transitive closure is needed to find A: old components are edge-closed,
# so one hop from the delta endpoints reaches every component that can
# change.
#
# At 100 TB: added/removed are two anti-joins between the two MAINTAINED
# pair tables on the narrow (doc_a, doc_b) key; A is batch-sized and
# broadcast; classifying P1's edges is ONE join against the maintained
# label table plus a broadcast probe of A (no shuffle of the label side
# beyond the doc_a co-partitioning it already has); and the iterative loop
# — the expensive part of CC at scale — runs over affected-component edges
# only, not the corpus graph.  A batch that touches 0.1% of components
# pays ~0.1% of the loop.
# ---------------------------------------------------------------------------


def _incr_base_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained cluster labels over the BASE corpus pair table — the
    incremental family's 5th session-cached artifact."""
    from .dedup import connected_components
    from .session_cache import session_cached

    return session_cached(
        "cc_incr_base_labels",
        spark,
        sf_dir,
        lambda: connected_components(_incr_base_pairs(spark, sf_dir)),
    )


def _cc_incremental_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The label-maintenance dataflow, exposed piecewise so tests can pin
    that the iterative recompute touches only affected-component edges."""

    base = _incr_base_pairs(spark, sf_dir)
    refreshed = pipe_minhash_incremental(spark, sf_dir)
    l0 = _incr_base_cc(spark, sf_dir)
    key = ["doc_a", "doc_b"]
    # jaccard is per-pair-static (a function of the two fixed shingle sets),
    # so pair identity on the key columns is pair identity
    added = refreshed.join(base.select(*key), key, "left_anti")
    removed = base.join(refreshed.select(*key), key, "left_anti")
    delta_nodes = (
        added.select(F.col("doc_a").alias("doc_id"))
        .unionByName(added.select(F.col("doc_b").alias("doc_id")))
        .unionByName(removed.select(F.col("doc_a").alias("doc_id")))
        .unionByName(removed.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # batch-sized: one row per OLD component touched by the batch
    affected = checkpoint(
        delta_nodes.join(l0, "doc_id").select(F.col("cluster_id").alias("__al")).distinct(),
        disk=True,
    )
    la = l0.select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("__la"))
    hit = F.broadcast(affected.withColumn("__hit", F.lit(1)))
    # doc_a new (no old label) → added edge → in; else in iff label ∈ A
    sub = (
        refreshed.join(la, "doc_a", "left")
        .join(hit, F.col("__la") == F.col("__al"), "left")
        .filter(F.col("__la").isNull() | F.col("__hit").isNotNull())
        .select("doc_a", "doc_b", "jaccard")
    )
    kept_lab = l0.join(
        F.broadcast(affected), F.col("cluster_id") == F.col("__al"), "left_anti"
    )
    return {
        "added": added,
        "removed": removed,
        "affected": affected,
        "sub": sub,
        "kept_lab": kept_lab,
    }


def pipe_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refreshed cluster listing (doc_id, cluster_id, is_keeper,
    cluster_size) after applying the CDC batch — identical output contract
    to dedup_cluster_cc over the refreshed pair table, computed by
    recomputing ONLY the affected components."""
    from .dedup import connected_components
    from .session_cache import session_cached

    def build() -> DataFrame:
        frames = _cc_incremental_frames(spark, sf_dir)
        sub_lab = connected_components(frames["sub"])
        return frames["kept_lab"].unionByName(sub_lab)

    labels = session_cached("cc_incr_labels", spark, sf_dir, build)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_keeper"),
        "cluster_size",
    )


def _cc_incremental_sql() -> str:
    # full-recompute mirror: labels maintained through the delta algebra
    # must be bit-identical to CC from scratch over the whole corpus
    from .dedup import _cc_sql

    return _cc_sql()


register("pipe_cc_incremental", pipe_cc_incremental, _cc_incremental_sql())
