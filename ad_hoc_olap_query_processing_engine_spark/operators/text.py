"""Text-analysis operators over the ``documents`` table (SURVEY.md §2.3 —
NOT-IN-REFERENCE; the training-data-pipeline surface).

All four ops are pure built-in column expressions (JVM-side, whole-stage
codegen — no Python in the hot path) and scale linearly: tokenization and
scoring are per-row map work with no shuffle; the aggregations shuffle only
tiny (lang, …) keys.

Determinism: token counts use a single-space split (the corpus is
space-joined), substring-occurrence counts use length arithmetic, and the
fingerprint is md5 — all bit-identical in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import register
from .session_cache import session_cached


def _n_tokens() -> Column:
    return F.size(F.split(F.col("text"), " "))


def _occurrences(needle: str) -> Column:
    """# of occurrences of ``needle`` in text via length arithmetic
    (cross-engine deterministic, unlike regex counting)."""
    return (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(needle)))
    ) / len(needle)


def _occurrences_sql(needle: str) -> str:
    return f"(length(text) - length(replace(text, '{needle}', ''))) / {len(needle)}"


# ---------------------------------------------------------------------------
# text_token_stats — corpus profile per (lang, source).
# ---------------------------------------------------------------------------


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return (
        d.withColumn("n_tokens", _n_tokens())
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (F.sum("n_tokens") / F.count(F.lit(1))).alias("avg_tokens"),
            (F.sum(F.length("text")) / F.count(F.lit(1))).alias("avg_chars"),
        )
    )


TEXT_TOKEN_STATS_SQL = """\
WITH t AS (SELECT lang, source, len(string_split(text, ' ')) AS n_tokens,
                  length(text) AS n_chars
           FROM documents)
SELECT lang, source,
       COUNT(*)                                    AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT)               AS total_tokens,
       SUM(n_tokens) * 1.0 / COUNT(*)              AS avg_tokens,
       SUM(n_chars) * 1.0 / COUNT(*)               AS avg_chars
FROM t GROUP BY lang, source"""


# ---------------------------------------------------------------------------
# text_quality — per-document quality scoring (length / stopword / repetition
# heuristics, the C4/Gopher-style filters).
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to")


def quality_frame(d: DataFrame) -> DataFrame:
    """Per-document quality columns + the ``keep`` verdict — the reusable
    scoring core behind text_quality and pipe_corpus_filter."""
    n_tok = _n_tokens()
    stop_hits: Column = F.lit(0.0)
    for w in _STOPWORDS:
        stop_hits = stop_hits + _occurrences(f" {w} ")
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
    out = (
        d.withColumn("n_tokens", n_tok.cast("int"))
        .withColumn("stopword_ratio", stop_hits / n_tok)
        .withColumn(
            "avg_token_len",
            (F.length("text") - (n_tok - F.lit(1))) / n_tok,
        )
        .withColumn("alpha_ratio", alpha_chars / F.length("text"))
    )
    keep = (
        (F.col("n_tokens") >= 20)
        & (F.col("stopword_ratio") > 0.01)
        & (F.col("avg_token_len") >= 3)
        & (F.col("avg_token_len") <= 12)
    )
    return out.withColumn("keep", keep)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    return quality_frame(d).select(
        "doc_id", "n_tokens", "stopword_ratio", "avg_token_len", "alpha_ratio", "keep"
    )


TEXT_QUALITY_SQL = f"""\
WITH t AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_tok,
         length(text)                 AS n_chars,
         length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars,
         {' + '.join(_occurrences_sql(f' {w} ') for w in _STOPWORDS)} AS stop_hits
  FROM documents)
SELECT CAST(doc_id AS BIGINT)                  AS doc_id,
       CAST(n_tok AS INT)                      AS n_tokens,
       stop_hits * 1.0 / n_tok                 AS stopword_ratio,
       (n_chars - (n_tok - 1)) * 1.0 / n_tok   AS avg_token_len,
       alpha_chars * 1.0 / n_chars             AS alpha_ratio,
       (n_tok >= 20 AND stop_hits * 1.0 / n_tok > 0.01
        AND (n_chars - (n_tok - 1)) * 1.0 / n_tok BETWEEN 3 AND 12) AS keep
FROM t"""


# ---------------------------------------------------------------------------
# text_lang_id — n-gram-marker language heuristic vs the labeled lang.
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": (" the ", " and "),
    "es": (" el ", " la "),
    "de": (" der ", " und "),
    "fr": (" le ", " et "),
    "zh": (" de ", " shi "),
}


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    scores = {
        lang: sum((_occurrences(m) for m in marks), F.lit(0.0))
        for lang, marks in _LANG_MARKERS.items()
    }
    # deterministic argmax: first lang (in fixed order) with the max score;
    # all-zero scores → 'unknown'
    best = F.lit("unknown")
    best_score = F.lit(0.0)
    for lang in _LANG_MARKERS:  # insertion order is the tie order
        better = scores[lang] > best_score
        best = F.when(better, F.lit(lang)).otherwise(best)
        best_score = F.when(better, scores[lang]).otherwise(best_score)
    return (
        d.withColumn("predicted_lang", best)
        .groupBy(F.col("lang").alias("labeled_lang"), "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_id_sql() -> str:
    score = {
        lang: "(" + " + ".join(_occurrences_sql(m) for m in marks) + ")"
        for lang, marks in _LANG_MARKERS.items()
    }
    # same fold as the Spark side: strictly-greater keeps the earlier lang on ties
    pred, best = "'unknown'", "0.0"
    for lang in _LANG_MARKERS:
        pred = f"CASE WHEN {score[lang]} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN {score[lang]} > {best} THEN {score[lang]} ELSE {best} END"
    return f"""\
WITH p AS (SELECT lang AS labeled_lang, {pred} AS predicted_lang FROM documents)
SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
FROM p GROUP BY labeled_lang, predicted_lang"""


# ---------------------------------------------------------------------------
# text_fingerprint — md5 document fingerprint over normalized text.
# ---------------------------------------------------------------------------


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    norm = F.lower(F.regexp_replace(F.col("text"), "[^a-z0-9]", ""))
    return d.select("doc_id", F.md5(norm.cast("binary")).alias("fingerprint"))


TEXT_FINGERPRINT_SQL = """\
SELECT doc_id, md5(lower(regexp_replace(text, '[^a-z0-9]', '', 'g'))) AS fingerprint
FROM documents"""


register("text_token_stats", text_token_stats, TEXT_TOKEN_STATS_SQL)
register("text_quality", text_quality, TEXT_QUALITY_SQL)
register("text_lang_id", text_lang_id, _lang_id_sql())
register("text_fingerprint", text_fingerprint, TEXT_FINGERPRINT_SQL)


# ---------------------------------------------------------------------------
# text_ngram_topk — top-K word bigrams per language by document frequency.
# The zip-shift bigram build is linear per document and JVM-side; the count
# shuffle keys on (lang, bigram) — high-cardinality and uniform, so no hot
# partitions at scale — and the top-K is a per-lang window over the (small)
# aggregated counts, never a global sort of the postings.
# ---------------------------------------------------------------------------

NGRAM_TOP_K = 5


def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    counts = (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("bigram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NGRAM_TOP_K)
        .select("lang", "bigram", "n", "rank")
    )


TEXT_NGRAM_TOPK_SQL = f"""\
WITH bg AS (
  SELECT lang, toks[i] || ' ' || toks[i+1] AS bigram
  FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents) t,
       unnest(range(1, len(toks))) AS u(i)),
counts AS (
  SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY lang, bigram),
ranked AS (
  SELECT lang, bigram, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram ASC) AS rank
  FROM counts)
SELECT lang, bigram, n, rank FROM ranked WHERE rank <= {NGRAM_TOP_K}"""


register("text_ngram_topk", text_ngram_topk, TEXT_NGRAM_TOPK_SQL)


# ---------------------------------------------------------------------------
# text_repetition — Gopher-style intra-document repetition flags: the
# distinct-token ratio (pure JVM array arithmetic, no shuffle) and the
# top-bigram fraction (share of the document's bigrams taken by its most
# frequent bigram). The bigram counting shuffles on (doc_id, bigram) —
# high-cardinality uniform keys — and every aggregate is exact-integer, so
# the derived double ratios are bit-identical across engines. Documents too
# short to form a bigram keep NULL repetition stats (LEFT join) and are not
# flagged.
# ---------------------------------------------------------------------------

TOP_BIGRAM_FRAC_FLAG = 0.2


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    base = d.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "distinct_ratio"
        ),
    )
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    per_bigram = (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rep = per_bigram.groupBy("doc_id").agg(
        F.max("n").alias("top_n"), F.sum("n").alias("n_bigrams")
    )
    frac = F.col("top_n").cast("double") / F.col("n_bigrams")
    return (
        base.join(rep, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "distinct_ratio",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
            frac.alias("top_bigram_frac"),
            F.coalesce(frac > TOP_BIGRAM_FRAC_FLAG, F.lit(False)).alias("repetitive"),
        )
    )


TEXT_REPETITION_SQL = f"""\
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
base AS (
  SELECT doc_id, len(toks) AS n_tokens,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
  FROM t),
bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
  FROM t, unnest(range(1, len(toks))) AS u(i)),
bc AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY doc_id, bigram),
rep AS (SELECT doc_id, MAX(n) AS top_n, SUM(n) AS n_bigrams FROM bc GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_tokens AS INT)                    AS n_tokens,
       b.distinct_ratio                           AS distinct_ratio,
       CAST(COALESCE(r.n_bigrams, 0) AS BIGINT)   AS n_bigrams,
       CAST(r.top_n AS DOUBLE) / r.n_bigrams      AS top_bigram_frac,
       COALESCE(CAST(r.top_n AS DOUBLE) / r.n_bigrams > {TOP_BIGRAM_FRAC_FLAG},
                FALSE)                            AS repetitive
FROM base b LEFT JOIN rep r USING (doc_id)"""


register("text_repetition", text_repetition, TEXT_REPETITION_SQL)


# ---------------------------------------------------------------------------
# text_vocab — min-frequency vocabulary build: global token counts, drop
# tokens below VOCAB_MIN_COUNT, assign dense contiguous ids — the id table a
# tokenizer-training step consumes. The count shuffle keys on the token
# (high-cardinality; partial aggregation absorbs hot stopwords map-side).
# Id assignment is PARTITION-SAFE: rank within an md5 hash bucket (parallel
# windows over VOCAB_BUCKETS partitions) plus a broadcast per-bucket offset
# from a tiny bucket-size aggregate, so no data-sized single-partition
# WindowExec exists anywhere in the plan — the only global window runs on the
# VOCAB_BUCKETS-row offset table (constant-bounded, like the K-survivor
# ranking in sampling.py). Ids are dense [1..|vocab|] and deterministic in
# (bucket, count DESC, token) order; the DuckDB oracle reproduces the exact
# same order via the same 48-bit md5 bucket hash.
# ---------------------------------------------------------------------------

VOCAB_MIN_COUNT = 5
VOCAB_BUCKETS = 32


def text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    counts = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= VOCAB_MIN_COUNT)
    )
    # 48-bit md5 uniform, bit-identical in DuckDB (same trick as
    # sampling._doc_hash / dedup._hash_fields)
    bkt = (
        F.conv(F.substring(F.md5(F.col("token").cast("binary")), 1, 12), 16, 10)
        .cast("bigint")
        % VOCAB_BUCKETS
    )
    c = counts.withColumn("__bkt", bkt)
    rk = F.row_number().over(
        W.partitionBy("__bkt").orderBy(F.desc("n"), F.asc("token"))
    )
    # bucket offsets via a triangular self-join on the VOCAB_BUCKETS-row size
    # table (offset(b) = Σ sizes of lower buckets) — no unpartitioned window
    # anywhere in the plan, so the WindowExec single-partition path is gone
    sizes = c.groupBy("__bkt").agg(F.count(F.lit(1)).alias("__sz"))
    lower = sizes.select(
        F.col("__bkt").alias("__lb"), F.col("__sz").alias("__lsz")
    )
    offsets = (
        sizes.join(F.broadcast(lower), F.col("__lb") < F.col("__bkt"), "left")
        .groupBy("__bkt")
        .agg(F.coalesce(F.sum("__lsz"), F.lit(0)).alias("__off"))
    )
    return (
        c.withColumn("__rk", rk)
        .join(F.broadcast(offsets), "__bkt")
        .select(
            "token",
            "n",
            (F.col("__off") + F.col("__rk")).cast("int").alias("token_id"),
        )
    )


TEXT_VOCAB_SQL = f"""\
WITH c AS (
  SELECT t.token, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
  GROUP BY t.token
  HAVING COUNT(*) >= {VOCAB_MIN_COUNT}),
b AS (
  SELECT token, n,
         ('0x' || substr(md5(token), 1, 12))::BIGINT % {VOCAB_BUCKETS} AS bkt
  FROM c)
SELECT token, n,
       CAST(ROW_NUMBER() OVER (ORDER BY bkt, n DESC, token ASC) AS INT) AS token_id
FROM b"""


register("text_vocab", text_vocab, TEXT_VOCAB_SQL)


# ---------------------------------------------------------------------------
# text_tfidf_topk — top TF-IDF terms per document. The idf is the RATIONAL
# form n_docs/df (no logarithm: libm/JVM log results are not guaranteed
# bit-identical across engines, but exact-integer products divided as
# doubles are), so every score is deterministic and the whole ranking is
# oracle-checked. Term frequencies shuffle on (doc_id, token) and document
# frequencies on token — both high-cardinality uniform keys; the corpus size
# joins in as a broadcast 1-row aggregate, never a driver-side action. The
# per-doc top-k is a window over each doc's own terms (bounded by document
# length, no global sort).
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("score", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tf", "df", "score", "rank")
    )


TEXT_TFIDF_TOPK_SQL = f"""\
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score
  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
ranked AS (
  SELECT doc_id, token, tf, df, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, token ASC) AS INT) AS rank
  FROM scored)
SELECT doc_id, token, tf, df, score, rank FROM ranked WHERE rank <= {TFIDF_TOP_K}"""


register("text_tfidf_topk", text_tfidf_topk, TEXT_TFIDF_TOPK_SQL)


# ---------------------------------------------------------------------------
# text_rarity_score — corpus-unigram-LM document scoring, the "perplexity
# filter" of a training-data pipeline: fit the unigram model on the corpus
# itself (token → global count), score each document by how surprising its
# tokens are under that model. The textbook score is avg(-log p(tok)), but
# libm logs are not bit-identical across engines and float-sum order is not
# associative — so the score is the exact-rational analogue: the mean INVERSE
# probability, Σ floor(total·10⁶ / count(tok)) per token, one bigint sum,
# divided once at the end. Same ordering of documents (monotone in token
# rarity), zero float accumulation — the whole pipeline hash-matches.
# Shuffles: token explode → (token) count (partial-agg absorbs stopwords
# map-side), broadcast of the 1-row total, then a (doc_id) re-aggregation.
# ---------------------------------------------------------------------------


def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    model = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__cnt"))
    total = model.agg(F.sum("__cnt").alias("__total"))
    # floor(total·10⁶ / cnt) decomposed as (total DIV cnt)·10⁶ +
    # ((total MOD cnt)·10⁶) DIV cnt — algebraically identical, but the
    # intermediate products stay < max(total, cnt·10⁶) instead of total·10⁶,
    # so int64 is safe while max(single-token count) < 9.2e12 and total
    # < 9.2e18 (vs overflowing at total ≈ 9.2e12 tokens with the naive
    # multiply — the 100 TB-corpus bound this header promises).
    scored = (
        toks.join(model, "token")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__inv",
            F.expr(
                "(__total DIV __cnt) * 1000000"
                " + ((__total % __cnt) * 1000000) DIV __cnt"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            (F.sum("__inv").cast("double") / F.count(F.lit(1)) / F.lit(1e6)).alias(
                "mean_inv_prob"
            ),
        )
    )


TEXT_RARITY_SCORE_SQL = """\
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
model AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
total AS (SELECT SUM(cnt) AS total FROM model)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM((total.total // m.cnt) * 1000000
                + ((total.total % m.cnt) * 1000000) // m.cnt) AS DOUBLE)
         / COUNT(*) / 1000000 AS mean_inv_prob
FROM toks t JOIN model m USING (token) CROSS JOIN total
GROUP BY t.doc_id"""


register("text_rarity_score", text_rarity_score, TEXT_RARITY_SCORE_SQL)


# ---------------------------------------------------------------------------
# text_bm25_topk — ranked retrieval (the RAG/IR face of the text tier): BM25
# score of every document against a fixed query-term set, top-K results.
# Classic Okapi BM25 with exact-integer inputs (tf, df, dl all ints; avgdl
# one exact division), so the float formula evaluates the identical IEEE
# operation tree in Spark and DuckDB — scores round to 6 dp only to absorb
# sub-ulp association differences, ranking ties break on doc_id.
#
# Plan shape at 100 TB: tf explode shuffles on (doc_id, token) once; the
# query-term table is a literal broadcast; df/avgdl are tiny broadcast aggs;
# the final top-K is TakeOrdered, never a global sort. An inverted-index
# deployment would precompute tf/df as maintained tables — the same two
# aggregates this computes inline.
# ---------------------------------------------------------------------------

BM25_QUERY_TERMS = ("data", "model", "system")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tf = (
        toks.filter(F.col("token").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("total_len"),
    )
    dl = d.select("doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("dl"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + F.lit(1.0)
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    per_term = scored.withColumn("__s", idf * tf_part)
    ranked = (
        per_term.groupBy("doc_id")
        .agg(
            F.round(F.sum("__s"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_matched_terms"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP_K)
    )
    return ranked


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""\
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM toks WHERE token IN ({terms}) GROUP BY doc_id, token),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(len(string_split(text, ' '))) AS total_len
  FROM documents),
dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       FROM documents),
scored AS (
  SELECT tf.doc_id,
         LN((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * ({BM25_K1} + 1)) /
            (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl /
             (CAST(stats.total_len AS DOUBLE) / stats.n_docs)))) AS s
  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats)
SELECT doc_id, ROUND(SUM(s), 6) AS bm25, COUNT(*) AS n_matched_terms
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_K}"""


register("text_bm25_topk", text_bm25_topk, _bm25_sql())


# ---------------------------------------------------------------------------
# text_bigram_lm — corpus-LM fluency scoring: fit an unsmoothed bigram model
# on the corpus, score each document by its mean log conditional probability
# (plus perplexity), the KenLM-style quality-filter signal a training
# pipeline thresholds on. Bigram construction is the shuffle-free
# zip_with/slice map (shared shape with text_ngram_topk); the model is two
# count aggregates (context, bigram) joined back on token keys — vocab²-
# bounded tables, shuffle joins that AQE downgrades to broadcast when the
# vocab is small (as here), the scale-correct default when it is not. Scores
# round to 4 dp so both engines' float-sum orders agree (same policy as the
# cosine scores in similarity.py).
# ---------------------------------------------------------------------------


def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM scores, session-cached: text_bigram_lm returns
    it and pipe_ccnet_buckets reads it TWICE (tercile cuts + bucketing) —
    uncached, the cuts branch re-executed the whole multi-join LM subtree
    (7 documents scans measured in the bucket query)."""
    return session_cached(
        "bigram_lm_scores", spark, sf_dir, lambda: _bigram_lm_scores(spark, sf_dir).persist()
    )


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_scores(spark, sf_dir)


def _bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = d.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    ctx = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    bi = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bi"))
    logp = F.log(F.col("c_bi") / F.col("c_ctx"))
    return (
        big.join(bi, ["w1", "w2"])
        .join(ctx, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("avg_logp"),
            F.round(F.exp(-F.avg(logp)), 4).alias("ppl"),
        )
    )


TEXT_BIGRAM_LM_SQL = """\
WITH big AS (
  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
       unnest(range(1, len(toks))) AS u(i)),
ctx AS (SELECT w1, COUNT(*) AS c_ctx FROM big GROUP BY w1),
bi  AS (SELECT w1, w2, COUNT(*) AS c_bi FROM big GROUP BY w1, w2)
SELECT b.doc_id, COUNT(*) AS n_bigrams,
       ROUND(AVG(ln(c_bi / c_ctx)), 4)    AS avg_logp,
       ROUND(exp(-AVG(ln(c_bi / c_ctx))), 4) AS ppl
FROM big b JOIN bi USING (w1, w2) JOIN ctx USING (w1)
GROUP BY b.doc_id"""


register("text_bigram_lm", text_bigram_lm, TEXT_BIGRAM_LM_SQL)


# ---------------------------------------------------------------------------
# text_trigram_lm — interpolated-backoff trigram LM (the Jelinek-Mercer
# mixture KenLM-class corpus filters actually deploy, one order up from
# text_bigram_lm's raw ML bigram):
#
#   P(w3|w1 w2) = λ3·c(w1w2w3)/c(w1w2·) + λ2·c(·w2w3)/c(·w2·) + λ1·c(··w3)/N
#
# with (λ3, λ2, λ1) = (0.6, 0.3, 0.1).  EVERY count table is derived from
# the one trigram relation (c(w1w2·) = Σ_w3 c(w1w2w3), etc.), so the three
# ML components are mutually consistent and the whole model is five
# vocab-bounded aggregates over a single shuffle-free zip_with explode —
# at 100 TB the count tables are the only shuffled relations, AQE broadcasts
# them when small, and the corpus is scanned once.  N is a one-row broadcast
# (allowlisted BNLJ).  Scoring the training corpus itself means no component
# is ever zero — the mixture grades fluency rather than gating OOV, which is
# the actual quality-filter use.
#
# Hashed-output determinism: each PER-TOKEN mixture p is one fixed
# left-to-right IEEE expression over identical integer operands (bit-stable
# cross-engine), immediately quantized to FLOOR(p·10⁶) BIGINT; the per-doc
# rollup then SUMS INTEGERS — order-independent, unlike an AVG of doubles
# whose partial-aggregation order differs between Spark and DuckDB (the
# determinism-playbook hazard a ROUND(AVG(ln ...), 4) formulation would
# carry).  avg_p is the integer quotient of non-negatives (DIV == //).
# ---------------------------------------------------------------------------

TRIGRAM_L3, TRIGRAM_L2, TRIGRAM_L1 = 0.6, 0.3, 0.1


def text_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    m = F.greatest(F.size(toks) - 2, F.lit(0))
    # arrays_zip, not nested zip_with lambdas (round 13): identical struct
    # rows, but the zip codegens as one array walk instead of two nested
    # interpreted LambdaFunction evaluations per token — measured 1.2-1.35
    # → 0.93-1.0 s warm on the full query at sf0.1
    tris = F.arrays_zip(
        F.slice(toks, 1, m).alias("w1"),
        F.slice(toks, 2, m).alias("w2"),
        F.slice(toks, 3, m).alias("w3"),
    )
    tri = d.select("doc_id", F.explode(tris).alias("t")).select(
        "doc_id",
        F.col("t.w1").alias("w1"),
        F.col("t.w2").alias("w2"),
        F.col("t.w3").alias("w3"),
    )
    # ONE aggregate pass over the exploded corpus (round 13, guide §2.3
    # "aggregate before you shuffle"): every context count is a rollup of
    # c3 — c2(w1,w2) = Σ_w3 c3, cu2(w2) = Σ c3, n = Σ c3 — so the four
    # context aggregates and the total reduce the |distinct trigram| c3
    # table instead of re-exploding and re-shuffling the corpus-sized
    # occurrence table five more times.  p per occurrence depends only on
    # the trigram, so the per-trigram score attaches to occurrences with a
    # SINGLE tri-sized join (was five).  Counts are identical integers and
    # the double expression is term-for-term the same, so every floor is
    # bit-identical (A/B: identical 5,000-row result at sf0.1).
    c3 = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    # Catalyst cannot share the c3 subtree across the rollups below: the
    # second self-join's DeduplicateRelations rewrite breaks canonical
    # equality for every copy (measured: ReusedExchange fires on a single
    # c3⋈rollup join, never once two rollups join in), so each rollup
    # re-derives c3 — corpus re-explodes that are noise here but real at
    # scale.  Big corpora therefore pin c3 once (LAZY checkpoint: vocab-
    # sized, the standard LM count-table materialization); small ones skip
    # it — the stage barrier costs more than the re-derivations
    # (A/B at sf0.1: +0.25 s with the checkpoint).  Results are identical
    # either way — the gate only picks where c3 is recomputed from.
    from .dedup import _corpus_is_big

    if _corpus_is_big(sf_dir):
        c3 = c3.localCheckpoint(eager=False)
    c2ctx = c3.groupBy("w1", "w2").agg(F.sum("c3").alias("c2"))
    c23 = c3.groupBy("w2", "w3").agg(F.sum("c3").alias("c23"))
    c2u = c3.groupBy("w2").agg(F.sum("c3").alias("cu2"))
    c3u = c3.groupBy("w3").agg(F.sum("c3").alias("cu3"))
    n = c3.groupBy().agg(F.sum("c3").alias("n"))
    p = (
        F.lit(TRIGRAM_L3) * (F.col("c3") / F.col("c2"))
        + F.lit(TRIGRAM_L2) * (F.col("c23") / F.col("cu2"))
        + F.lit(TRIGRAM_L1) * (F.col("cu3") / F.col("n"))
    )
    p_e6 = F.floor(p * 1_000_000).cast("bigint")
    stats = (
        c3.join(c2ctx, ["w1", "w2"])
        .join(c23, ["w2", "w3"])
        .join(c2u, ["w2"])
        .join(c3u, ["w3"])
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "w3", p_e6.alias("__p_e6"))
    )
    return (
        tri.join(stats, ["w1", "w2", "w3"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.sum("__p_e6").alias("sum_p_e6"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "sum_p_e6",
            F.expr("sum_p_e6 DIV n_trigrams").alias("avg_p_e6"),
        )
    )


TEXT_TRIGRAM_LM_SQL = f"""\
WITH tri AS (
  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
       unnest(range(1, len(toks) - 1)) AS u(i)),
c3    AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3),
c2ctx AS (SELECT w1, w2, COUNT(*) AS c2 FROM tri GROUP BY 1, 2),
c23   AS (SELECT w2, w3, COUNT(*) AS c23 FROM tri GROUP BY 1, 2),
c2u   AS (SELECT w2, COUNT(*) AS cu2 FROM tri GROUP BY 1),
c3u   AS (SELECT w3, COUNT(*) AS cu3 FROM tri GROUP BY 1),
nn    AS (SELECT COUNT(*) AS n FROM tri),
scored AS (
  SELECT t.doc_id,
         CAST(FLOOR(({TRIGRAM_L3} * (c3 / c2) + {TRIGRAM_L2} * (c23 / cu2)
                     + {TRIGRAM_L1} * (cu3 / n)) * 1000000) AS BIGINT) AS p_e6
  FROM tri t
  JOIN c3 USING (w1, w2, w3)
  JOIN c2ctx USING (w1, w2)
  JOIN c23 USING (w2, w3)
  JOIN c2u USING (w2)
  JOIN c3u USING (w3)
  CROSS JOIN nn)
SELECT doc_id,
       COUNT(*) AS n_trigrams,
       CAST(SUM(p_e6) AS BIGINT) AS sum_p_e6,
       CAST(SUM(p_e6) AS BIGINT) // COUNT(*) AS avg_p_e6
FROM scored
GROUP BY doc_id"""


register("text_trigram_lm", text_trigram_lm, TEXT_TRIGRAM_LM_SQL)


# ---------------------------------------------------------------------------
# text_collocations — PMI-ranked collocations: bigrams whose observed count
# beats the independence expectation, pmi = ln(c_bi·N_uni² / (N_bi·c_w1·c_w2))
# — the phrase-mining signal (word2vec's phrase pass, NLTK collocations) a
# corpus pipeline uses to merge multi-word units before tokenizer training.
# Three count aggregates (unigram, bigram, two scalar totals) share the
# token/bigram explode shapes with text_vocab / text_bigram_lm; the scalar
# totals ride a one-row broadcast, the unigram table joins twice on token
# keys (w1, w2).  A min-count floor keeps rare-pair noise out (PMI's known
# bias).  Top-K lands via orderBy+limit → TakeOrdered, never a global sort.
# The PMI expression is spelled identically in both engines over exact
# integer counts cast to DOUBLE (all counts < 2^53 — exact), rounded 4 dp.
# ---------------------------------------------------------------------------

COLLOC_MIN_COUNT = 5
COLLOC_TOP_K = 30


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    uni = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    big = (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_bi"))
        .filter(F.col("c_bi") >= COLLOC_MIN_COUNT)
    )
    totals = uni.agg(F.sum("c_w").alias("__n_uni")).crossJoin(
        big.agg(F.sum("c_bi").alias("__n_bi"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2"))
    pmi = F.log(
        (
            F.col("c_bi").cast("double")
            * F.col("__n_uni").cast("double")
            * F.col("__n_uni").cast("double")
        )
        / (
            F.col("__n_bi").cast("double")
            * F.col("c_w1").cast("double")
            * F.col("c_w2").cast("double")
        )
    )
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "c_bi", F.round(pmi, 4).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(COLLOC_TOP_K)
    )


TEXT_COLLOCATIONS_SQL = f"""\
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
uni AS (
  SELECT w, COUNT(*) AS c_w
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
big AS (
  SELECT w1, w2, COUNT(*) AS c_bi
  FROM (SELECT t[i] AS w1, t[i+1] AS w2 FROM toks, unnest(range(1, len(t))) AS u(i))
  GROUP BY w1, w2
  HAVING COUNT(*) >= {COLLOC_MIN_COUNT}),
totals AS (
  SELECT (SELECT SUM(c_w) FROM uni) AS n_uni, (SELECT SUM(c_bi) FROM big) AS n_bi)
SELECT w1, w2, c_bi,
       ROUND(LN((CAST(c_bi AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE))
                / (CAST(n_bi AS DOUBLE) * CAST(c_w1 AS DOUBLE) * CAST(c_w2 AS DOUBLE))), 4) AS pmi
FROM big
JOIN (SELECT w AS w1, c_w AS c_w1 FROM uni) USING (w1)
JOIN (SELECT w AS w2, c_w AS c_w2 FROM uni) USING (w2)
CROSS JOIN totals
ORDER BY pmi DESC, w1 ASC, w2 ASC
LIMIT {COLLOC_TOP_K}"""


register("text_collocations", text_collocations, TEXT_COLLOCATIONS_SQL)


# ---------------------------------------------------------------------------
# text_line_dedup — corpus-level boilerplate line removal, the C4/CCNet
# pipeline step: split every document into fixed-width token "lines",
# count each line's distinct-document frequency across the WHOLE corpus,
# drop lines appearing in more than one document (repeated headers/
# footers/navigation chrome in web corpora), and re-assemble each document
# from its surviving lines in order.
#
# Shape at 100 TB: explode → line-frequency aggregate (map-side combining
# on the line hash) → join back on line → ordered re-assembly per doc.
# The frequency table is corpus-wide state, the same artifact CCNet shards
# by line hash; nothing here is per-document-pair, so it scales linearly
# where pairwise dedup can't.  Output ships the cleaned text as an md5
# digest + kept/total counts (narrow result, full-content check).  Docs
# whose every line is boilerplate survive with n_kept = 0 and the digest
# of the empty string (left join back to the corpus — removal must never
# silently drop the document row itself).
# ---------------------------------------------------------------------------

LINE_TOKENS = 4


def _doc_lines(spark: SparkSession, sf_dir: str):
    """(documents, n_lines column, exploded (doc_id, pos, line) frame): every
    document split into LINE_TOKENS-token lines.  Shared by the line-dedup
    siblings."""
    d = load_table(spark, "documents", sf_dir)
    toks = F.split(F.col("text"), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(LINE_TOKENS)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * LINE_TOKENS + 1, LINE_TOKENS), " "),
    )
    return d, n_lines, d.select("doc_id", F.posexplode(lines).alias("pos", "line"))


def _kept_lines(rows: DataFrame) -> DataFrame:
    """Per doc_id: how many (pos, line) rows were kept (``n_kept``) and the
    kept lines re-joined in position order (``__clean``)."""
    return rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
            " ",
        ).alias("__clean"),
    )


def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, n_lines, exploded = _doc_lines(spark, sf_dir)
    freq = exploded.groupBy("line").agg(F.countDistinct("doc_id").alias("__df"))
    kept = _kept_lines(exploded.join(freq, "line").filter(F.col("__df") == 1))
    return (
        d.select("doc_id", n_lines.alias("n_lines"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.md5(F.coalesce(F.col("__clean"), F.lit("")).cast("binary")).alias("clean_md5"),
        )
    )


TEXT_LINE_DEDUP_SQL = f"""\
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
lines AS (
  SELECT doc_id, i AS pos,
         array_to_string(t[i * {LINE_TOKENS} + 1 : (i + 1) * {LINE_TOKENS}], ' ') AS line
  FROM toks, unnest(range(CAST(ceil(len(t) / {LINE_TOKENS}.0) AS BIGINT))) AS u(i)),
freq AS (
  SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY line),
kept AS (
  SELECT l.doc_id, COUNT(*) AS n_kept,
         string_agg(l.line, ' ' ORDER BY l.pos) AS clean
  FROM lines l JOIN freq f ON l.line = f.line
  WHERE f.df = 1
  GROUP BY l.doc_id),
base AS (
  SELECT doc_id, CAST(ceil(len(t) / {LINE_TOKENS}.0) AS INT) AS n_lines FROM toks)
SELECT b.doc_id, b.n_lines,
       COALESCE(k.n_kept, 0) AS n_kept,
       md5(COALESCE(k.clean, '')) AS clean_md5
FROM base b LEFT JOIN kept k ON b.doc_id = k.doc_id"""


register("text_line_dedup", text_line_dedup, TEXT_LINE_DEDUP_SQL)


# ---------------------------------------------------------------------------
# text_diversity — exact lexical-diversity features per document, aggregated
# per language: Gini–Simpson index (1 − Σp²; the entropy-family diversity
# measure that stays in RATIONAL arithmetic — Shannon entropy needs log(),
# whose last-ulp varies between libm implementations, so it can never be
# hash-matched across engines) and the type-token ratio.  Both are
# computed in fixed point with integer numerators/denominators:
# simpson_fp = 1e6·(total² − Σcnt²) DIV total², ttr_fp = 1e6·distinct DIV
# total — exact int64 up to ~10⁶-token documents.  One explode + two
# aggregates (term counts per doc, then doc features), then the per-lang
# rollup divides two exact integer sums once.
# ---------------------------------------------------------------------------


def text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    terms = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    per_term = terms.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).alias("__c")
    )
    per_doc = per_term.groupBy("doc_id", "lang").agg(
        F.sum("__c").alias("__total"),
        F.sum(F.col("__c") * F.col("__c")).alias("__sumsq"),
        F.count(F.lit(1)).alias("__distinct"),
    )
    feats = per_doc.select(
        "doc_id",
        "lang",
        F.expr("(1000000 * (__total * __total - __sumsq)) DIV (__total * __total)")
        .cast("bigint")
        .alias("simpson_fp"),
        F.expr("(1000000 * __distinct) DIV __total").cast("bigint").alias("ttr_fp"),
    )
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("simpson_fp").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_simpson_fp"
        ),
        (F.sum("ttr_fp").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_ttr_fp"
        ),
        F.min("ttr_fp").alias("min_ttr_fp"),
        F.max("ttr_fp").alias("max_ttr_fp"),
    )


TEXT_DIVERSITY_SQL = """\
WITH terms AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
per_term AS (
  SELECT doc_id, lang, tok, COUNT(*) AS c FROM terms GROUP BY 1, 2, 3),
per_doc AS (
  SELECT doc_id, lang,
         SUM(c)      AS total,
         SUM(c * c)  AS sumsq,
         COUNT(*)    AS ndistinct
  FROM per_term GROUP BY 1, 2),
feats AS (
  SELECT doc_id, lang,
         CAST((1000000 * (total * total - sumsq)) // (total * total) AS BIGINT) AS simpson_fp,
         CAST((1000000 * ndistinct) // total AS BIGINT)                          AS ttr_fp
  FROM per_doc)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(simpson_fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_simpson_fp,
       CAST(SUM(ttr_fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)     AS avg_ttr_fp,
       MIN(ttr_fp) AS min_ttr_fp,
       MAX(ttr_fp) AS max_ttr_fp
FROM feats GROUP BY lang"""


register("text_diversity", text_diversity, TEXT_DIVERSITY_SQL)


# ---------------------------------------------------------------------------
# text_bpe_merges — tokenizer training, the BPE inner loop: spell every
# corpus word as separator-joined symbols, count frequency-weighted adjacent
# symbol pairs, merge the most frequent pair corpus-wide, and repeat.  Two
# rounds are unrolled (the standard trainer runs this loop 30k times; round
# count changes nothing structurally), then the resulting symbol vocabulary
# is reported.  Everything is exact string/integer work: pair argmax breaks
# ties lexicographically, and merge application is literal (non-regex)
# replace on boundary-wrapped spellings ('~'||spell||'~', searching
# '~a~b~'), run in THREE passes because consecutive occurrences share a
# boundary separator and left-to-right replace can only take alternate ones
# per pass — both engines scan identically, so the pass count is a shared
# part of the operator contract, not an approximation hazard.
#
# Scale shape: the word table is the frequency-collapsed vocabulary (a few
# hundred thousand rows for a real corpus, NOT the token stream), each
# round is one explode + aggregate over it, and the chosen pair is a
# one-row broadcast — exactly how distributed BPE trainers (e.g. over a
# word-count table from a 100 TB corpus) structure the loop.
# ---------------------------------------------------------------------------

BPE_ROUNDS = 2
BPE_TOP_TOKENS = 10
_BPE_SEP = "~"


def _bpe_pairs_expr(spell_col: str) -> str:
    return (
        f"if(size(split({spell_col}, '{_BPE_SEP}')) < 2, array(), "
        f"transform(sequence(1, size(split({spell_col}, '{_BPE_SEP}')) - 1), "
        f"i -> concat(element_at(split({spell_col}, '{_BPE_SEP}'), i), '{_BPE_SEP}', "
        f"element_at(split({spell_col}, '{_BPE_SEP}'), CAST(i + 1 AS INT)))))"
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the BPE_ROUNDS training loop; returns (spelled vocabulary
    DataFrame (word, wf, spell), list of one-row merge DataFrames).
    Shared by text_bpe_merges (reports the vocabulary) and text_bpe_encode
    (applies the trained tokenizer to the corpus)."""
    d = load_table(spark, "documents", sf_dir)
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        # empty tokens (double/leading spaces) spell differently across
        # engines (Spark's sequence(1, 0) is DESCENDING, DuckDB's range is
        # empty) — excluded from the vocabulary on both sides
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    spell = F.expr(
        f"array_join(transform(sequence(1, length(word)), p -> substring(word, p, 1)), '{_BPE_SEP}')"
    )
    cur = words.withColumn("spell", spell)

    merges = []
    for _ in range(BPE_ROUNDS):
        pair_counts = (
            cur.select("wf", F.explode(F.expr(_bpe_pairs_expr("spell"))).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("wf").alias("cnt"))
        )
        # localCheckpoint both per-round artifacts: the chosen pair feeds
        # three downstream lineages (its own output row, the next round's
        # spellings, the token rollup) and the spelled table feeds two —
        # without the barrier the corpus-wide aggregations re-execute per
        # consumer (same hazard mm_ahash_dedup documents)
        top = F.broadcast(
            pair_counts.orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .select(F.col("pair").alias("__mp"), F.col("cnt").alias("__mc"))
            .localCheckpoint()
        )
        merges.append(top)
        wrapped = F.concat(F.lit(_BPE_SEP), F.col("spell"), F.lit(_BPE_SEP))
        search = F.concat(F.lit(_BPE_SEP), F.col("__mp"), F.lit(_BPE_SEP))
        repl = F.concat(
            F.lit(_BPE_SEP), F.replace(F.col("__mp"), F.lit(_BPE_SEP), F.lit("")), F.lit(_BPE_SEP)
        )
        merged = wrapped
        for _p in range(3):  # bounded passes; see header comment
            merged = F.replace(merged, search, repl)
        cur = (
            cur.crossJoin(top)
            .select("word", "wf", merged.alias("__m"))
            .select(
                "word",
                "wf",
                F.expr("substring(__m, 2, length(__m) - 2)").alias("spell"),
            )
            .localCheckpoint()
        )

    return cur, merges


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur, merges = _bpe_train(spark, sf_dir)
    tokens = (
        cur.select("wf", F.explode(F.split("spell", _BPE_SEP)).alias("token"))
        .groupBy("token")
        .agg(F.sum("wf").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(BPE_TOP_TOKENS)
        .select(F.lit("token").alias("kind"), "token", "freq")
    )
    merge_rows = None
    for i, top in enumerate(merges, 1):
        row = top.select(
            F.lit(f"merge_{i}").alias("kind"),
            F.col("__mp").alias("token"),
            F.col("__mc").alias("freq"),
        )
        merge_rows = row if merge_rows is None else merge_rows.unionByName(row)
    return merge_rows.unionByName(tokens)


def _bpe_train_ctes() -> str:
    sep = _BPE_SEP

    def pairs(spell: str) -> str:
        return (
            f"CASE WHEN len(string_split({spell}, '{sep}')) < 2 THEN [] "
            f"ELSE list_transform(range(1, len(string_split({spell}, '{sep}'))), "
            f"i -> string_split({spell}, '{sep}')[CAST(i AS INT)] || '{sep}' || "
            f"string_split({spell}, '{sep}')[CAST(i AS INT) + 1]) END"
        )

    def apply_merge(spell: str, mp: str) -> str:
        out = f"'{sep}' || {spell} || '{sep}'"
        for _ in range(3):
            out = (
                f"replace({out}, '{sep}' || {mp} || '{sep}', "
                f"'{sep}' || replace({mp}, '{sep}', '') || '{sep}')"
            )
        return f"substr({out}, 2, length({out}) - 2)"

    spell0 = (
        f"array_to_string(list_transform(range(1, length(word) + 1), "
        f"p -> substr(word, CAST(p AS INT), 1)), '{sep}')"
    )
    return f"""\
WITH words AS (
  SELECT w AS word, COUNT(*) AS wf
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0
  GROUP BY w),
s0 AS (SELECT word, wf, {spell0} AS spell FROM words),
pc1 AS (
  SELECT p AS pair, CAST(SUM(wf) AS BIGINT) AS cnt
  FROM (SELECT wf, unnest({pairs('spell')}) AS p FROM s0)
  GROUP BY p),
m1 AS (SELECT pair, cnt FROM pc1 ORDER BY cnt DESC, pair ASC LIMIT 1),
s1 AS (
  SELECT word, wf, {apply_merge('s0.spell', 'm1.pair')} AS spell
  FROM s0, m1),
pc2 AS (
  SELECT p AS pair, CAST(SUM(wf) AS BIGINT) AS cnt
  FROM (SELECT wf, unnest({pairs('spell')}) AS p FROM s1)
  GROUP BY p),
m2 AS (SELECT pair, cnt FROM pc2 ORDER BY cnt DESC, pair ASC LIMIT 1),
s2 AS (
  SELECT word, wf, {apply_merge('s1.spell', 'm2.pair')} AS spell
  FROM s1, m2)"""


def _bpe_sql() -> str:
    return f"""\
{_bpe_train_ctes()},
toks AS (
  SELECT t AS token, CAST(SUM(wf) AS BIGINT) AS freq
  FROM (SELECT wf, unnest(string_split(spell, '{_BPE_SEP}')) AS t FROM s2)
  GROUP BY t
  ORDER BY freq DESC, token ASC LIMIT {BPE_TOP_TOKENS})
SELECT 'merge_1' AS kind, pair AS token, cnt AS freq FROM m1
UNION ALL
SELECT 'merge_2' AS kind, pair AS token, cnt AS freq FROM m2
UNION ALL
SELECT 'token' AS kind, token, freq FROM toks"""


register("text_bpe_merges", text_bpe_merges, _bpe_sql())


# ---------------------------------------------------------------------------
# text_bpe_encode — tokenizer APPLICATION, the other half of the BPE story:
# encode every document with the merges text_bpe_merges trained and report
# per-document token economics (words, tokens, characters, exact
# chars-per-token in basis points).  The key scale idiom: documents are
# never re-spelled per occurrence — the trained vocabulary (word →
# symbols-after-merges) is the broadcast small side, and encoding is a
# per-doc word-count join against it, Σ n_occ·|symbols(word)| — exactly how
# a 100 TB corpus is tokenizer-counted from a word-frequency table without
# touching raw text twice.  All integer arithmetic; the ratio uses integer
# DIV on non-negative operands (truncation agrees across engines there).
# ---------------------------------------------------------------------------


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur, _merges = _bpe_train(spark, sf_dir)
    vocab = cur.select(
        "word", F.size(F.split("spell", _BPE_SEP)).alias("n_sym")
    )
    d = load_table(spark, "documents", sf_dir)
    doc_words = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return (
        doc_words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_sym")).alias("n_tokens"),
            F.sum(F.col("n_occ") * F.length("word")).alias("n_chars"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_tokens",
            "n_chars",
            F.expr("n_chars * 10000 DIV n_tokens").alias("chars_per_token_bps"),
        )
    )


def _bpe_encode_sql() -> str:
    return f"""\
{_bpe_train_ctes()},
vocab AS (
  SELECT word, len(string_split(spell, '{_BPE_SEP}')) AS n_sym FROM s2),
dw AS (
  SELECT doc_id, w AS word, COUNT(*) AS n_occ
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0
  GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(n_occ) AS BIGINT) AS n_words,
       CAST(SUM(n_occ * n_sym) AS BIGINT) AS n_tokens,
       CAST(SUM(n_occ * length(word)) AS BIGINT) AS n_chars,
       CAST(SUM(n_occ * length(word)) AS BIGINT) * 10000
         // CAST(SUM(n_occ * n_sym) AS BIGINT) AS chars_per_token_bps
FROM dw JOIN vocab USING (word)
GROUP BY doc_id"""


register("text_bpe_encode", text_bpe_encode, _bpe_encode_sql())


# ---------------------------------------------------------------------------
# text_selfline_dedup — INTRA-document repetition cleanup: drop repeated
# fixed-width token lines within the same document, keeping each line's
# first occurrence in order (the self-repetition scrub that strips looping
# boilerplate inside a single page — distinct from text_line_dedup's
# cross-corpus frequency rule and text_repetition's measure-only score).
# Pure per-document work: explode → first-occurrence filter via a
# (doc, line) min-position aggregate joined back — no corpus-wide state at
# all, so it composes before the corpus-level passes.  Output ships kept
# counts + the cleaned digest, same contract as text_line_dedup.
# ---------------------------------------------------------------------------


def text_selfline_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, n_lines, exploded = _doc_lines(spark, sf_dir)
    firsts = exploded.groupBy("doc_id", "line").agg(F.min("pos").alias("pos"))
    kept = _kept_lines(firsts)
    return (
        d.select("doc_id", n_lines.alias("n_lines"))
        .join(kept, "doc_id")
        .select(
            "doc_id",
            "n_lines",
            F.col("n_kept").cast("bigint").alias("n_kept"),
            F.md5(F.col("__clean").cast("binary")).alias("clean_md5"),
        )
    )


TEXT_SELFLINE_DEDUP_SQL = f"""\
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
lines AS (
  SELECT doc_id, i AS pos,
         array_to_string(t[i * {LINE_TOKENS} + 1 : (i + 1) * {LINE_TOKENS}], ' ') AS line
  FROM toks, unnest(range(CAST(ceil(len(t) / {LINE_TOKENS}.0) AS BIGINT))) AS u(i)),
firsts AS (
  SELECT doc_id, line, MIN(pos) AS pos FROM lines GROUP BY doc_id, line),
kept AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, ' ' ORDER BY pos) AS clean
  FROM firsts GROUP BY doc_id),
base AS (
  SELECT doc_id, CAST(ceil(len(t) / {LINE_TOKENS}.0) AS INT) AS n_lines FROM toks)
SELECT b.doc_id, b.n_lines,
       k.n_kept,
       md5(k.clean) AS clean_md5
FROM base b JOIN kept k ON b.doc_id = k.doc_id"""


register("text_selfline_dedup", text_selfline_dedup, TEXT_SELFLINE_DEDUP_SQL)


# ---------------------------------------------------------------------------
# text_hash_features — the hashing-trick vectorizer (sklearn
# HashingVectorizer / Vowpal Wabbit shape): tokens map to a FIXED feature
# dimension via a hash, so featurization needs no vocabulary build, no
# global state, and no second pass — the property that lets a 100 TB
# corpus featurize in a single embarrassingly-parallel map.  Buckets come
# from the md5-uniform (bit-identical cross-engine, like every
# derandomized op in this repo), reported in long form per language with
# the distinct-token count per bucket as the collision diagnostic a user
# checks before trusting the dimension choice.
# ---------------------------------------------------------------------------

HASH_FEATURE_DIM = 16


def text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("tok")).filter(
        F.length("tok") > 0
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 12), 16, 10)
        .cast("bigint")
        % HASH_FEATURE_DIM
    ).cast("int")
    return (
        toks.withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.countDistinct("tok").alias("n_distinct_tokens"),
        )
    )


TEXT_HASH_FEATURES_SQL = f"""\
WITH toks AS (
  SELECT lang, t AS tok
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE length(t) > 0)
SELECT lang,
       CAST(('0x' || substr(md5(tok), 1, 12))::BIGINT % {HASH_FEATURE_DIM} AS INT)
         AS bucket,
       COUNT(*) AS total_count,
       COUNT(DISTINCT tok) AS n_distinct_tokens
FROM toks
GROUP BY 1, 2"""


register("text_hash_features", text_hash_features, TEXT_HASH_FEATURES_SQL)


# ---------------------------------------------------------------------------
# text_charset_profile — character-class composition per language: counts of
# letters / digits / spaces / other, with shares in exact basis points
# (integer DIV over exact char counts).  The cheapest corpus-drift tripwire
# there is — an encoding regression or markup leak shifts these shares
# before any model metric moves.  Class counts come from length arithmetic
# over regex-stripped copies (the established _occurrences discipline) —
# no per-char explode, pure map + one aggregate.
# ---------------------------------------------------------------------------


def text_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    n = F.length("text")
    letters = F.length(F.regexp_replace(F.col("text"), "[^a-z]", ""))
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    spaces = F.length(F.regexp_replace(F.col("text"), "[^ ]", ""))
    per_doc = d.select(
        "lang",
        n.alias("__n"),
        letters.alias("__l"),
        digits.alias("__d"),
        spaces.alias("__s"),
    )
    return per_doc.groupBy("lang").agg(
        F.sum("__n").cast("bigint").alias("total_chars"),
        F.expr("CAST((SUM(__l) * 10000) DIV SUM(__n) AS BIGINT)").alias("letter_bps"),
        F.expr("CAST((SUM(__d) * 10000) DIV SUM(__n) AS BIGINT)").alias("digit_bps"),
        F.expr("CAST((SUM(__s) * 10000) DIV SUM(__n) AS BIGINT)").alias("space_bps"),
        F.expr(
            "CAST(((SUM(__n) - SUM(__l) - SUM(__d) - SUM(__s)) * 10000)"
            " DIV SUM(__n) AS BIGINT)"
        ).alias("other_bps"),
    )


TEXT_CHARSET_PROFILE_SQL = """\
WITH t AS (
  SELECT lang,
         length(text) AS n,
         length(regexp_replace(text, '[^a-z]', '', 'g')) AS l,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS d,
         length(regexp_replace(text, '[^ ]', '', 'g'))   AS s
  FROM documents)
SELECT lang,
       CAST(SUM(n) AS BIGINT) AS total_chars,
       CAST((SUM(l) * 10000) // SUM(n) AS BIGINT) AS letter_bps,
       CAST((SUM(d) * 10000) // SUM(n) AS BIGINT) AS digit_bps,
       CAST((SUM(s) * 10000) // SUM(n) AS BIGINT) AS space_bps,
       CAST(((SUM(n) - SUM(l) - SUM(d) - SUM(s)) * 10000) // SUM(n) AS BIGINT)
         AS other_bps
FROM t GROUP BY lang"""


register("text_charset_profile", text_charset_profile, TEXT_CHARSET_PROFILE_SQL)


# ---------------------------------------------------------------------------
# text_rake_keywords — RAKE keyword extraction (Rapid Automatic Keyword
# Extraction, Rose et al. 2010): candidate phrases are the maximal stopword-
# free token runs, each word scores degree/frequency over the candidate
# corpus (degree = Σ length of the phrases it appears in — co-occurrence
# incl. itself), and a phrase scores the sum of its words' scores.  The
# run-splitting is the gaps-and-islands trick (island id = running count of
# stopword/empty positions per document), so candidate extraction is pure
# windowed columnar work — no UDF, no per-row Python.
#
# Determinism: word scores are quantized FIRST — s_w = (degree·10⁶) DIV
# freq, exact integer division of non-negatives — and a phrase sums those
# INTEGERS, so no float aggregate whose order could differ across engines
# ever reaches the hashed output (same policy as text_trigram_lm).  Top-20
# phrases break ties lexicographically.  Phrases are capped at 4 tokens
# (RAKE's practical cap); the word-stat and phrase tables are vocabulary-
# bounded, the corpus is scanned once.
# ---------------------------------------------------------------------------

RAKE_TOP_K = 20
RAKE_MAX_LEN = 4


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    stop = F.col("tok").isin(*_STOPWORDS) | (F.length("tok") == 0)
    w_run = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = toks.withColumn("brk", stop.cast("int")).withColumn(
        "island", F.sum("brk").over(w_run)
    )
    inst = (
        islands.filter(~stop)
        .groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("len"),
        )
        .filter(F.col("len") <= RAKE_MAX_LEN)
    )
    wstats = (
        inst.select(F.explode(F.split("phrase", " ")).alias("word"), "len")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("len").alias("degree"),
        )
        .select("word", F.expr("degree * 1000000 DIV freq").alias("s_e6"))
    )
    dphrase = inst.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    scored = (
        dphrase.select("phrase", "n_occ", F.explode(F.split("phrase", " ")).alias("word"))
        .join(wstats, "word")
        .groupBy("phrase", "n_occ")
        .agg(F.sum("s_e6").alias("score_e6"))
    )
    return (
        scored.orderBy(F.desc("score_e6"), F.asc("phrase"))
        .limit(RAKE_TOP_K)
        .select("phrase", "n_occ", "score_e6")
    )


def _rake_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return f"""\
WITH toks AS (
  SELECT doc_id, CAST(i AS INT) AS pos, t[CAST(i AS INT)] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       unnest(range(1, len(t) + 1)) AS u(i)),
islands AS (
  SELECT doc_id, pos, tok,
         (tok IN ({stops}) OR length(tok) = 0) AS brk,
         SUM(CASE WHEN tok IN ({stops}) OR length(tok) = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM toks),
inst AS (
  SELECT doc_id, island,
         array_to_string(list_transform(
           list_sort(list(struct_pack(p := pos, t := tok))), r -> r.t), ' ') AS phrase,
         COUNT(*) AS len
  FROM islands WHERE NOT brk
  GROUP BY doc_id, island
  HAVING COUNT(*) <= {RAKE_MAX_LEN}),
wstats AS (
  SELECT w AS word,
         (CAST(SUM(len) AS BIGINT) * 1000000) // COUNT(*) AS s_e6
  FROM (SELECT unnest(string_split(phrase, ' ')) AS w, len FROM inst)
  GROUP BY w),
dphrase AS (
  SELECT phrase, COUNT(*) AS n_occ FROM inst GROUP BY phrase),
scored AS (
  SELECT p.phrase, p.n_occ, CAST(SUM(ws.s_e6) AS BIGINT) AS score_e6
  FROM (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS word
        FROM dphrase) p
  JOIN wstats ws ON ws.word = p.word
  GROUP BY p.phrase, p.n_occ)
SELECT phrase, n_occ, score_e6
FROM scored
ORDER BY score_e6 DESC, phrase ASC
LIMIT {RAKE_TOP_K}"""


register("text_rake_keywords", text_rake_keywords, _rake_sql())


# ---------------------------------------------------------------------------
# text_ngram_novelty — the MEMORIZATION/NOVELTY screen: per language, how
# much of each document's shingle set is unique to that document vs shared
# with the rest of the corpus (a doc whose n-grams mostly appear elsewhere
# is boilerplate/templated/memorized; training pipelines downweight or audit
# those).  Per doc: T = distinct word-3-gram shingles, U = shingles with
# corpus document-frequency 1.  Report per lang: corpus novelty in exact bps
# (ΣU·10⁴ DIV ΣT) and the count of "memorized" docs (U·5 < T, i.e. novelty
# below 20%).  All-integer arithmetic, hash-exact.
# Scale shape: reads the session-cached shingle posting index (the dedup
# family's maintained artifact — built once, shared), one posting-keyed
# join for document frequencies, then doc- and lang-grain hash aggregates;
# no windows, no all-pairs, nothing grows past the posting table.
# ---------------------------------------------------------------------------


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import shingle_postings

    sh = shingle_postings(spark, sf_dir)
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("t"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("u"),
        )
    )
    d = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    return (
        per_doc.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t").alias("total_shingles"),
            F.sum("u").alias("unique_shingles"),
            F.expr("CAST(SUM(u) * 10000 DIV SUM(t) AS BIGINT)").alias("novelty_bps"),
            F.sum(F.when(F.col("u") * 5 < F.col("t"), 1).otherwise(0)).alias(
                "n_memorized_docs"
            ),
        )
    )


def _ngram_novelty_sql() -> str:
    from .dedup import _SHINGLES_SQL

    return f"""\
WITH sh AS ({_SHINGLES_SQL}),
dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
per_doc AS (
  SELECT sh.doc_id,
         COUNT(*) AS t,
         SUM(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END) AS u
  FROM sh JOIN dfreq USING (s) GROUP BY sh.doc_id)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.t) AS BIGINT) AS total_shingles,
       CAST(SUM(p.u) AS BIGINT) AS unique_shingles,
       CAST(CAST(SUM(p.u) AS HUGEINT) * 10000 // SUM(p.t) AS BIGINT) AS novelty_bps,
       CAST(SUM(CASE WHEN p.u * 5 < p.t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_memorized_docs
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.lang"""


register("text_ngram_novelty", text_ngram_novelty, _ngram_novelty_sql())


# ---------------------------------------------------------------------------
# pipe_tokenizer_fertility — the multilingual TOKENIZER-FAIRNESS audit:
# fertility = BPE tokens emitted per whitespace word, reported per language
# (and per source within language).  High-fertility languages pay more
# compute per word and fit less text per context window — the standard
# pre-training equity report (XLM-R, BLOOM both publish it).  Reuses the
# trained BPE vocabulary (text_bpe_merges' inner loop) and the per-word
# symbol counts; all ratios exact integer bps.  Scale shape: vocabulary is
# corpus-bounded and broadcast; one explode + two hash aggregates.
# ---------------------------------------------------------------------------


def pipe_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur, _merges = _bpe_train(spark, sf_dir)
    vocab = cur.select("word", F.size(F.split("spell", _BPE_SEP)).alias("n_sym"))
    d = load_table(spark, "documents", sf_dir)
    words = (
        d.select("lang", "source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
    )
    return (
        words.join(F.broadcast(vocab), "word")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_tokens"),
        )
        .select(
            "lang",
            "source",
            "n_words",
            "n_tokens",
            F.expr("n_tokens * 10000 DIV n_words").alias("fertility_bps"),
        )
    )


def _tokenizer_fertility_sql() -> str:
    return f"""\
{_bpe_train_ctes()},
vocab AS (
  SELECT word, len(string_split(spell, '{_BPE_SEP}')) AS n_sym FROM s2),
w AS (
  SELECT lang, source, w AS word
  FROM (SELECT lang, source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(n_sym) AS HUGEINT) * 10000 // COUNT(*) AS BIGINT)
         AS fertility_bps
FROM w JOIN vocab USING (word)
GROUP BY lang, source"""


register("pipe_tokenizer_fertility", pipe_tokenizer_fertility, _tokenizer_fertility_sql())


# ---------------------------------------------------------------------------
# text_chi2_keywords — DISTINCTIVE VOCABULARY per source: for each (source,
# word), the χ² statistic of the 2×2 contingency (occurrences in source vs
# elsewhere × this word vs other words), keeping the top-5 positively-
# associated words per source — the corpus-drift / domain-signature report
# (what vocabulary makes `source` different?).  The contingency cells
# a,b,c,d are exact int64 counts; χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is
# then evaluated in DOUBLE with an IDENTICAL operation order in both
# engines (each step is correctly-rounded IEEE over the same operands —
# the phi_q4 fused-identity precedent), rounded to 4 dp.  Words below
# CHI2_MIN_COUNT occurrences in the source are floored out (χ² is unstable
# on rare cells).  Scale shape: one explode → (source, word) hash rollup →
# broadcast word totals — no windows over raw tokens, top-5 per source via
# rank on the small aggregate.
# ---------------------------------------------------------------------------

CHI2_MIN_COUNT = 5
CHI2_TOP_K = 5


def text_chi2_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    words = d.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    sw = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("a_sw"))
    wtot = sw.groupBy("word").agg(F.sum("a_sw").alias("w_tot"))
    stot = sw.groupBy("source").agg(F.sum("a_sw").alias("s_tot"))
    ntot = sw.agg(F.sum("a_sw").alias("n_tot"))
    cells = (
        sw.join(F.broadcast(wtot), "word")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ntot))
        .filter(F.col("a_sw") >= CHI2_MIN_COUNT)
        .selectExpr(
            "source",
            "word",
            "a_sw AS a",
            "w_tot - a_sw AS b",
            "s_tot - a_sw AS c",
            "n_tot - w_tot - s_tot + a_sw AS d",
            "n_tot",
        )
        .filter(F.expr("a * d > b * c"))  # positive association only
    )
    chi2 = F.expr(
        "ROUND(CAST(n_tot AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)"
        " * CAST(a * d - b * c AS DOUBLE)"
        " / CAST((a + b) * (c + d) AS DOUBLE)"
        " / CAST((a + c) * (b + d) AS DOUBLE), 4)"
    )
    from pyspark.sql import Window as W

    ranked = cells.withColumn("chi2", chi2).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.desc("chi2"), F.asc("word"))
        ),
    )
    return ranked.filter(F.col("rank") <= CHI2_TOP_K).select(
        "source", "rank", "word", F.col("a").alias("n_in_source"), "chi2"
    )


TEXT_CHI2_KEYWORDS_SQL = f"""\
WITH w AS (
  SELECT source, w AS word
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0),
sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS a_sw FROM w GROUP BY 1, 2),
wt AS (SELECT word, CAST(SUM(a_sw) AS BIGINT) AS w_tot FROM sw GROUP BY word),
st AS (SELECT source, CAST(SUM(a_sw) AS BIGINT) AS s_tot FROM sw GROUP BY source),
nt AS (SELECT CAST(SUM(a_sw) AS BIGINT) AS n_tot FROM sw),
cells AS (
  SELECT sw.source, sw.word,
         a_sw AS a, w_tot - a_sw AS b, s_tot - a_sw AS c,
         n_tot - w_tot - s_tot + a_sw AS d, n_tot
  FROM sw JOIN wt USING (word) JOIN st USING (source) CROSS JOIN nt
  WHERE a_sw >= {CHI2_MIN_COUNT} AND a_sw * (n_tot - w_tot - s_tot + a_sw)
        > (w_tot - a_sw) * (s_tot - a_sw)),
scored AS (
  SELECT source, word, a,
         ROUND(CAST(n_tot AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)
               * CAST(a * d - b * c AS DOUBLE)
               / CAST((a + b) * (c + d) AS DOUBLE)
               / CAST((a + c) * (b + d) AS DOUBLE), 4) AS chi2
  FROM cells),
ranked AS (
  SELECT source, word, a, chi2,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY chi2 DESC, word ASC) AS rank
  FROM scored)
SELECT source, CAST(rank AS INT) AS rank, word, a AS n_in_source, chi2
FROM ranked WHERE rank <= {CHI2_TOP_K}"""


register("text_chi2_keywords", text_chi2_keywords, TEXT_CHI2_KEYWORDS_SQL)
