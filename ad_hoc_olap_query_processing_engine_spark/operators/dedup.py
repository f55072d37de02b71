"""Deduplication operators over ``documents`` (SURVEY.md §2.3 —
NOT-IN-REFERENCE; core training-data-pipeline surface).

Three tiers, all expressed with built-in JVM expressions (no Python UDFs):

dedup_exact          hash-groupBy on a normalized md5 fingerprint. One
                     shuffle on a 32-byte key; the canonical 100 TB exact
                     dedup (never groupBy raw text — the key is the digest).

dedup_ngram_jaccard  word-3-gram Jaccard via inverted-index self-join
                     (shingle → postings → pair intersection counts), with
                     STOP-SHINGLE removal: shingles whose document frequency
                     exceeds DF_CAP are dropped from the universe before the
                     self-join (broadcast anti-join against the tiny hot
                     set). Without the cap one common trigram makes the
                     postings self-join quadratic on a single key — the
                     classic scale-killer AQE skew-split mitigates but can't
                     bound. The cap is mirrored in the oracle SQL, so the
                     capped semantics are still hash-checked end-to-end. At
                     the shipped cap (100 docs) nothing is dropped at the
                     test SFs — results are identical to the uncapped op —
                     while worst-case per-shingle fan-out is bounded at
                     ~DF_CAP²/2 pairs.

dedup_minhash_lsh    true MinHash + banded LSH: 16 hash functions via double
                     hashing (ONE md5 per posting split into two 48-bit ints
                     a,b; h_i = a + i*b — overflow-free, and md5/hex-parse
                     are bit-identical in Spark and DuckDB, making the whole
                     sketch ORACLE-CHECKABLE, which library LSH with engine-
                     specific hashes is not), 8 bands × r=2, bucket-join for
                     candidates, exact-Jaccard verification of candidates
                     only. Candidate generation is |bands| small shuffles;
                     verification touches candidate pairs instead of all
                     pairs — the 100 TB path.

Near-dup recall of LSH is the standard 1-(1-J^r)^b curve; both engines run
the identical deterministic pipeline, so results still hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .iterutil import (
    Pins,
    disk_checkpoint,
    footer_rows,
    reclaim_shuffles,
    truncated_checkpoint,
    work_partitions,
)
from .registry import register
from .session_cache import session_cached

NUM_HASHES = 16
BANDS = 8  # r = NUM_HASHES // BANDS = 2
JACCARD_THRESHOLD = 0.4
SHINGLE_WORDS = 3
DF_CAP = 100  # stop-shingle cap: drop shingles present in more docs than this


# ---------------------------------------------------------------------------
# shared building blocks
# ---------------------------------------------------------------------------


def _shingles(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) postings: word 3-grams of the space-split
    text. Built by zipping k shifted views of the token array — linear per
    document (a transform over slice(toks, i, k) with a column start re-reads
    the array per position: measured 3× slower). Docs shorter than the
    shingle width contribute nothing (zip length 0). Dedup happens MAP-SIDE
    via array_distinct BEFORE the explode: (doc_id, s) duplicates can only
    occur within one document's array, so the global DISTINCT shuffle the
    naive form pays is pure waste — this version is shuffle-free."""
    toks = F.split(F.col("text"), " ")
    m = F.greatest(F.size(toks) - (SHINGLE_WORDS - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for i in range(2, SHINGLE_WORDS + 1):
        acc = F.zip_with(acc, F.slice(toks, i, m), lambda a, b: F.concat(a, F.lit(" "), b))
    return docs.select("doc_id", F.explode(F.array_distinct(acc)).alias("s"))


_SHINGLES_SQL = f"""\
SELECT DISTINCT doc_id, array_to_string(toks[i:i+{SHINGLE_WORDS - 1}], ' ') AS s
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
     unnest(range(1, len(toks) - {SHINGLE_WORDS - 2})) AS u(i)"""


# Session-scoped shared posting index: every dedup-family query starts from
# the same (doc_id, shingle) table, so materialize it ONCE per (session,
# sf_dir) instead of re-paying the explode+distinct shuffle (and its codegen)
# per query. This is the warehouse-index pattern — at 100 TB the posting
# table is a maintained artifact the dedup jobs share, not per-query work.
# Purely physical: each query's plan semantics are unchanged.


def shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted HASH-PARTITIONED ON doc_id: every family consumer that
    # aggregates per document (MinHash signatures, SimHash signatures,
    # set-size tables, shingle-set arrays) then satisfies its distribution
    # requirement straight off the cached partitioning and plans NO exchange
    # — one build-time shuffle bought four query-time shuffles.
    return session_cached(
        "shingle_postings",
        spark,
        sf_dir,
        lambda: _shingles(load_table(spark, "documents", sf_dir))
        .repartition("doc_id")
        .persist(),
    )


# Below this corpus size the pair-path merge hints come OFF and the planner
# (static + AQE) picks freely — at bench scale every side of these joins is
# a few thousand rows and a forced sort-merge join costs ~3× the natural
# broadcast plan (the round-11 dedup_lsh_recall_report regression).  Above
# it the hints pin spillable sort-merge: Catalyst's post-aggregate size
# estimate has broadcast a 5M-doc build side at sf100 ("Not enough memory
# to build and broadcast"), and a ShuffledHashJoin build map is
# non-spillable.  The threshold reads the documents parquet footer (a
# driver-side file read, same trick as similarity._peek_dim); unknown
# corpora default to BIG — the scale-safe direction.
PAIR_HINT_MIN_DOCS = 200_000


def _corpus_is_big(sf_dir: str) -> bool:
    # an unreadable footer degrades to the big plan, loudly (ADVICE r11 +
    # r12: a silent fallback hid a typo'd sf_dir behind a 3-4× slower plan)
    import os

    n = footer_rows(os.path.join(sf_dir, "documents.parquet"))
    if n is None:
        import sys

        print(
            f"dedup: documents footer read failed for {sf_dir}; "
            "defaulting to the big-corpus (scale-safe) pair plan",
            file=sys.stderr,
        )
        return True
    return n >= PAIR_HINT_MIN_DOCS


def _spillable(df: DataFrame, big: bool) -> DataFrame:
    """Merge-hint a pair-path join side when the corpus is big (spillable
    sort-merge, never a broadcast misestimate or a non-spillable hash
    build); leave the planner free when it is small."""
    return df.hint("merge") if big else df


def _checkpointed_pairs(sh: DataFrame, big: bool) -> DataFrame:
    """Materialize the verified pair table — the family's second
    maintained index, shared by the pair list, cluster_cc and the corpus
    filter — as a DISK_ONLY checkpoint, and release the sketch's internal
    persists: the eager checkpoint makes the
    big path's fingerprint persist dead weight the moment it returns
    (ADVICE r11 — the direct-call path leaked a corpus-sized disk persist
    per invocation)."""
    pins = Pins()
    out = disk_checkpoint(minhash_pairs(sh, pins, big=big))
    pins.release()
    return out


def verified_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_cached(
        "verified_minhash_pairs",
        spark,
        sf_dir,
        lambda: _checkpointed_pairs(
            shingle_postings(spark, sf_dir), big=_corpus_is_big(sf_dir)
        ),
    )


def _pair_jaccard_ctes(cand_cte: str) -> str:
    """Intersection/union arithmetic shared by the dedup SQL oracles, ending
    with a ``vpairs`` CTE of the verified (doc_a, doc_b, jaccard) pairs."""
    return f"""\
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS c
  FROM {cand_cte} c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY c.doc_a, c.doc_b),
vpairs AS (
  SELECT i.doc_a, i.doc_b,
         i.c * 1.0 / (sa.n + sb.n - i.c) AS jaccard
  FROM inter i
  JOIN sz sa ON i.doc_a = sa.doc_id
  JOIN sz sb ON i.doc_b = sb.doc_id
  WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= {JACCARD_THRESHOLD})"""


def _pair_jaccard_sql(cand_cte: str) -> str:
    return f"""\
{_pair_jaccard_ctes(cand_cte)}
SELECT doc_a, doc_b, jaccard FROM vpairs"""


def _set_fingerprints(sh: DataFrame) -> DataFrame:
    """(doc_id, __ss, __fp): each doc's (already-distinct) shingles collected
    into one sorted array plus its SET FINGERPRINT — equal sets, equal
    fingerprint.  The encoding is INJECTIVE (round-11 advice): each shingle
    is length-prefixed before the '\\x1f'-join, so a shingle that itself
    contains the separator byte cannot alias a different set onto the same
    fingerprint.  The fingerprint is a STRUCT of two independently-salted
    xxhash64 longs (round 12) — 16 bytes per key instead of the previous
    32-char md5 hex string (~40 serialized): the fingerprints ride every
    row of the pair-path's window self-join, DISTINCT and disk persist
    (sf30 profile: that phase was 426 s of a 680 s sketch), so key width
    is shuffle volume.  The two halves hash STRUCTURALLY DIFFERENT byte
    streams (ascending vs descending element order, plus a salt), not two
    seeds of one stream — XXH64 admits seed-independent collisions, so
    seed-variants alone would correlate (ADVICE r12).  On random corpora
    the per-pair collision odds are ~2^-128; XXH64 is non-cryptographic,
    so for ADVERSARIAL corpora this is a best-effort bound, not the md5
    guarantee it replaced.  Off the doc_id-partitioned posting index this
    aggregate plans NO exchange."""
    elem = F.transform(
        F.col("__ss"), lambda s: F.concat(F.length(s).cast("string"), F.lit(":"), s)
    )
    payload = F.concat_ws("\x1f", elem)
    # h2 hashes the REVERSED element order (still injective: the
    # length-prefixed encoding is, and reversal is a bijection on it), so
    # an h1 collision gives no information about h2 — the halves differ in
    # input bytes, not merely in seed.
    payload_rev = F.concat_ws("\x1f", F.reverse(elem))
    return sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("__ss")
    ).withColumn(
        "__fp",
        F.struct(
            F.xxhash64(payload).alias("h1"),
            F.xxhash64(F.lit("fp2"), payload_rev).alias("h2"),
        ),
    )


def _verify_keyed(sets: DataFrame, keyed: DataFrame, big: bool = True) -> DataFrame:
    """Exact Jaccard for fingerprint-keyed candidate pairs (doc_a, doc_b,
    __fa, __fb) — run ONCE PER DISTINCT SET-FINGERPRINT PAIR, not once per
    candidate pair (the canonicalize-then-verify shape of a production
    dedup stage).  Pairs carry only the two 16-byte struct<long,long>
    fingerprints; the array
    payloads join only on the (≤ |distinct sets|) fingerprint-pair table,
    and the verdict joins back to pairs by fingerprint keys.

    Why: joining array columns directly onto every candidate row shuffles
    |candidates| × |avg set payload| bytes — the sf100 probe (5M docs as
    1000-clone groups, 160M windowed candidates × ~1.5 KB arrays ≈ 240 GB
    of shuffle) died on disk.  With fingerprint canonicalization the array
    shuffle is bounded by DISTINCT sets (sf100: the same ~5k sets as
    sf0.1).  Values are unchanged: identical sets have identical Jaccard,
    so per-class verification returns the same number per-pair
    verification would, and the DuckDB oracle keeps its independent
    per-pair form.

    Join-strategy pins (each earned by an sf100 failure, then revised by
    the round-11 re-run): every join that can carry a corpus-sized build
    side is MERGE-hinted — spillable.  Broadcast must not be picked
    statically (Catalyst's post-aggregate "small" estimate broadcast a
    5M-doc build side: "Not enough memory to build and broadcast"), and
    SHUFFLE_HASH (the round-10 pin) is no better: its build-side hash map
    is NON-SPILLABLE, so 32 concurrent tasks' maps plus the stage's
    sort/aggregate buffers exhausted the execution pool
    (UNABLE_TO_ACQUIRE_MEMORY, sf100 probe).  The ARRAY-carrying
    representative rows never touch a pair-sized shuffle: representatives
    are chosen as min-doc_id per fingerprint on the narrow table, arrays
    attach via one doc_id join off the (doc_id-partitioned) sets
    aggregate, and the verdict join is bounded by |distinct fingerprint
    classes|, not |pairs|."""
    fps = sets.select("doc_id", "__fp")  # narrow: no array payload
    rep_ids = fps.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    reps = sets.join(_spillable(rep_ids.select("doc_id"), big), "doc_id").select(
        "__fp", "__ss"
    )
    fpairs = keyed.select("__fa", "__fb").distinct()
    c = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    jac = F.col("__c") / (F.size("__sa") + F.size("__sb") - F.col("__c"))
    verdicts = (
        fpairs.join(
            _spillable(
                reps.select(F.col("__fp").alias("__fa"), F.col("__ss").alias("__sa")),
                big,
            ),
            "__fa",
        )
        .join(
            _spillable(
                reps.select(F.col("__fp").alias("__fb"), F.col("__ss").alias("__sb")),
                big,
            ),
            "__fb",
        )
        .withColumn("__c", c)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("__fa", "__fb", "jaccard")
    )
    return keyed.join(verdicts, ["__fa", "__fb"]).select("doc_a", "doc_b", "jaccard")


def _verify_candidates(sh: DataFrame, cand: DataFrame, big: bool = True) -> DataFrame:
    """Exact Jaccard for bare (doc_a, doc_b) candidate pairs: attach the set
    fingerprints (two merge-hinted joins against the narrow per-doc
    fingerprint table — spillable even when cand is pair-sized), then
    verify once per distinct fingerprint pair via _verify_keyed."""
    sets = _set_fingerprints(sh)
    fps = sets.select("doc_id", "__fp")
    fa = fps.select(F.col("doc_id").alias("doc_a"), F.col("__fp").alias("__fa"))
    fb = fps.select(F.col("doc_id").alias("doc_b"), F.col("__fp").alias("__fb"))
    keyed = cand.join(_spillable(fa, big), "doc_a").join(_spillable(fb, big), "doc_b")
    return _verify_keyed(sets, keyed, big=big)


# ---------------------------------------------------------------------------
# dedup_exact
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    norm = F.lower(F.regexp_replace(F.col("text"), "\\s+", " "))
    return (
        d.select("doc_id", F.md5(norm.cast("binary")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_SQL = """\
SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*)    AS n_copies
FROM documents
GROUP BY 1"""


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard — exact all-pairs via inverted index.
# ---------------------------------------------------------------------------


def _capped(sh0: DataFrame, df_cap: int = DF_CAP) -> DataFrame:
    """Stop-shingle-capped postings: the hot set (df > cap) is tiny by
    definition — broadcast anti-join, no extra shuffle of the postings (and
    the anti-join preserves sh0's doc_id partitioning)."""
    hot = (
        sh0.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("s")
    )
    return sh0.join(F.broadcast(hot), "s", "left_anti")


def _overlap_from_capped(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, c, na, nb) for every doc pair sharing ≥1 capped
    shingle: intersection counts straight out of the inverted-index
    self-join (no separate candidate materialization), sizes joined in. The
    score-agnostic core both exact near-dup scores (Jaccard, containment)
    derive from with one arithmetic column each."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        x.join(y, (F.col("x.s") == F.col("y.s")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb")
    # no broadcast hint on the size tables: one row PER DOCUMENT, i.e.
    # corpus-sized — AQE broadcasts when the corpus is actually small
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def pair_overlap_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached overlap table — the third maintained index of the
    family (postings → verified pairs → overlap counts). One row per
    overlapping candidate pair (tiny: bounded by the banded/capped candidate
    space, not the corpus), shared by dedup_ngram_jaccard and
    dedup_containment so the inverted-index self-join runs once per
    (session, sf_dir) instead of once per score."""

    def build() -> DataFrame:
        sh = _capped(shingle_postings(spark, sf_dir)).persist()
        out = disk_checkpoint(_overlap_from_capped(sh))  # eager materialize
        # the capped-posting persist only served this build; free it
        sh.unpersist()
        return out

    return session_cached("ngram_pair_overlap", spark, sf_dir, build)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        pair_overlap_table(spark, sf_dir)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


DEDUP_NGRAM_JACCARD_SQL = f"""\
WITH sh0 AS ({_SHINGLES_SQL}),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {DF_CAP}),
sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id),
{_pair_jaccard_sql("cand")}"""


# ---------------------------------------------------------------------------
# dedup_minhash_lsh — MinHash signatures + banded LSH + exact verification.
# ---------------------------------------------------------------------------


def _hash_fields(sh: DataFrame) -> DataFrame:
    """Double-hashing base fields: one md5 per posting, split into two 48-bit
    ints (hex → BIGINT parses identically in Spark and DuckDB); the i-th hash
    is ``a + i*b`` (≤ 2^53, overflow-free, exact in both engines)."""
    h = F.md5(F.col("s").cast("binary"))
    return sh.withColumn(
        "__ha", F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint")
    ).withColumn("__hb", F.conv(F.substring(h, 13, 12), 16, 10).cast("bigint"))


def _minhash_cols() -> list[Column]:
    return [
        F.min(F.col("__ha") + F.lit(i) * F.col("__hb")).alias(f"m{i}")
        for i in range(NUM_HASHES)
    ]


# Mega-bucket guard (found by the sf30 probe): a bucket of B near-identical
# documents — boilerplate pages, mirrored sites, replicated shards — makes
# the naive bucket self-join emit B²/2 candidate pairs (300 clones → 45k
# pairs PER bucket; the probe's pair table hit 10⁸ rows and blew the 1 GiB
# result ceiling).  The standard sorted-neighborhood cap bounds this: order
# bucket members by doc_id and pair each member only with its next
# LSH_BUCKET_WINDOW neighbors — B·W pairs, linear in bucket size.  Chain
# pairs keep a mega-bucket connected in the CANDIDATE graph, and — for the
# near-identical buckets the guard exists for (every adjacent pair passes
# the Jaccard threshold) — in the verified graph too, so dedup_cluster_cc's
# clusters match the uncapped contract there.  A bucket that is
# LSH-collided but NOT near-identical can lose >W-apart pairs whose chain
# links fail verification, so its clusters may differ from the uncapped
# ideal; cross-engine parity still holds because the oracle mirrors the
# cap.  The emitted pair LIST for buckets larger than W+1 is intentionally
# partial (LSH recall is < 1 by design, and the cap is far above any
# driver/bench bucket — max observed: 4 at sf0.01, 18 at sf0.1 — so
# small-scale outputs are bit-identical).  Mirrored in the SQL oracle.
LSH_BUCKET_WINDOW = 32


def _verify_pairs_small(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Per-pair exact Jaccard for SMALL corpora: join each side's shingle
    array straight onto the candidate pairs and leave the planner free
    (it broadcasts the per-doc array table).  Values are identical to the
    canonicalized big-corpus verify — both compute the exact Jaccard of the
    same two shingle sets — this shape just skips the fingerprint machinery
    a few-thousand-doc corpus doesn't need."""
    sets = sh.groupBy("doc_id").agg(F.collect_list("s").alias("__ss"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("__ss").alias("__sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("__ss").alias("__sb"))
    c = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    jac = F.col("__c") / (F.size("__sa") + F.size("__sb") - F.col("__c"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("__c", c)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band index from shingle postings — the
    banded bucket table a production near-dup index maintains (shared by
    ``minhash_pairs`` and the incremental pair maintenance in pipeline.py)."""
    sig = _hash_fields(sh).groupBy("doc_id").agg(*_minhash_cols())
    r = NUM_HASHES // BANDS
    band_keys = F.array(
        *[
            F.concat_ws("_", *[F.col(f"m{b * r + j}") for j in range(r)])
            for b in range(BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band", "key"))


def bucket_window_join(members: DataFrame) -> DataFrame:
    """The sorted-neighbourhood LSH pairing rule: rank each (band, key)
    bucket's members by doc_id and pair every member with the next
    LSH_BUCKET_WINDOW ranks.  Returns the self-join with its sides aliased
    ``a`` and ``b`` (b ranks after a); callers project the pair."""
    from pyspark.sql import Window as W

    rb = members.withColumn(
        "rk", F.row_number().over(W.partitionBy("band", "key").orderBy("doc_id"))
    )
    a, b = rb.alias("a"), rb.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("b.rk") > F.col("a.rk"))
        & (F.col("b.rk") <= F.col("a.rk") + LSH_BUCKET_WINDOW),
    )


def minhash_pairs(sh: DataFrame, pins: Pins, big: bool = True) -> DataFrame:
    """Verified near-dup pairs from (persisted) shingle postings: MinHash
    signatures → banded LSH buckets (sorted-neighborhood capped) →
    exact-Jaccard verification of the candidates only. Shared by
    ``dedup_minhash_lsh`` (emits the pairs), ``dedup_cluster_cc`` (unions
    them into duplicate clusters) and ``dedup_lsh_recall_report``.

    ``big`` selects the PHYSICAL shape only — same DISTINCT pairs, same
    Jaccard values, pinned by test_minhash_small_and_big_paths_agree.
    Small corpora (< PAIR_HINT_MIN_DOCS) run the one-shot banded plan:
    window every bucket, verify per pair, no persists, planner free — the
    whole sketch is one job at bench scale.  Big corpora add bucket-class
    dedup, fingerprint canonicalization, spillable-join pins and DISK_ONLY
    materialization of the shared subtrees — each earned by an sf100
    failure; at bench scale the same machinery was a 3-4× slowdown
    (round-11 profiling), which is exactly the size-adaptive plan choice a
    cluster optimizer makes from table stats.

    The big path's two DISK_ONLY persists (``sets``, ``keyed``) are pinned
    to ``pins``; the caller releases them once the returned DataFrame is
    materialized."""
    bands = lsh_bands(sh)
    if not big:
        cand = (
            bucket_window_join(bands)
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
        return _verify_pairs_small(sh, cand)
    # BUCKET-CLASS dedup before the window join (sf100 probe finding): two
    # buckets with the same member set emit the SAME windowed pairs (rk
    # orders by doc_id, so ordering — hence pairing — is a function of
    # membership alone), and on clone-heavy corpora all 8 bands bucket
    # identically, so the naive per-band window join shuffles its pair
    # multiset 8× into the DISTINCT (1.28B pre-distinct rows at sf100 —
    # the disk-spill driver).  Grouping buckets by a membership digest and
    # windowing ONE representative per class leaves the DISTINCT result
    # bit-identical (each class keeps ≥1 representative; duplicates add
    # nothing) while cutting the heavy join to |distinct bucket classes|.
    # All-unique corpora degrade gracefully: every bucket is its own class
    # and the only cost is one extra aggregate over the bands table.  The
    # oracle keeps the naive all-bands form — same DISTINCT pairs.
    #
    # The digest is ORDER-FREE AND O(1)-STATE (round-11 fix): the round-10
    # collect_list form buffered every member doc_id of a bucket in ONE
    # aggregation buffer before hashing — a degenerate hot band key with
    # millions of members builds a multi-MB row in a single task, the exact
    # defect class LSH_BUCKET_WINDOW exists for.  Membership is a SET
    # (bands emits one row per (doc, band)), so a commutative combine over
    # per-member hashes identifies it without materializing it:
    # (count, XOR of xxhash64, exact DECIMAL sum of xxhash64) — three
    # fixed-width values per bucket, ~2^-128 collision odds, the same risk
    # profile as the md5 it replaces.  Equal membership ⟹ equal triple;
    # window pairs are a function of membership alone (rk orders by
    # doc_id), so class-dedup on the triple is sound — and the aggregate
    # is a plain spillable HashAggregate instead of an object aggregate
    # growing arrays (also ~2× cheaper on the bench's all-unique corpus,
    # recovering the round-10 dedup_lsh_recall_report regression).
    from pyspark.storagelevel import StorageLevel

    mh = F.xxhash64(F.col("doc_id"))
    # bands feeds TWO subtrees (the bucket-class aggregate and the members
    # join) and sets feeds two more (members and the verify's representative
    # build) — with differing projections above each use, Catalyst plans NO
    # ReusedExchange and the whole signature pipeline recomputes once per
    # consumer (round-11 profiling: the sketch ran 2-3× inside one query,
    # 10-14 s instead of ~6 at sf0.1, and the same multiplier inside the
    # sf100 probes).  DISK_ONLY persists materialize each exactly once;
    # disk, not memory, so corpus-sized blocks never steal execution memory
    # from the producing stage's sorts (the sf100 lesson).
    bands = bands.persist(StorageLevel.DISK_ONLY)
    bucket_cls = bands.groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("__bn"),
        F.bit_xor(mh).alias("__bx"),
        F.sum(mh.cast("decimal(38,0)")).alias("__bs"),
    )
    reps = bucket_cls.dropDuplicates(["__bn", "__bx", "__bs"]).select("band", "key")
    # Attach the set fingerprint to bucket MEMBERS (corpus-sized join, once)
    # instead of to candidate PAIRS (pair-sized join, twice) — round-11
    # restructure: the window join then emits fingerprint-keyed pairs
    # directly, removing the two sorts of the (possibly 160M-row) pair
    # table against the 5M-doc fingerprint table that the sf100 probe paid.
    # sets feeds the (lazy) verify tail, so it cannot unpersist here; the
    # caller releases it once the returned DataFrame is materialized
    sets = pins.persist(_set_fingerprints(sh), StorageLevel.DISK_ONLY)
    members = bands.join(reps, ["band", "key"]).join(
        _spillable(sets.select("doc_id", "__fp"), big), "doc_id"
    )
    # the verify joins read keyed TWICE (distinct fingerprint pairs + the
    # verdict join back); materialize it eagerly so the window join runs
    # once.  DISK_ONLY persist + count (the round-12 fix to the ADVICE r11
    # leak: the caller releases it with ``pins``).
    keyed = pins.persist(
        bucket_window_join(members)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.__fp").alias("__fa"),
            F.col("b.__fp").alias("__fb"),
        )
        .distinct(),  # (doc_a, doc_b) determines (__fa, __fb): same cardinality
        StorageLevel.DISK_ONLY,
    )
    keyed.count()
    # keyed is materialized: bands served only its build (sets still feeds
    # the verify below — the caller unpersists it AND keyed via `pins` once
    # the returned DataFrame is materialized)
    bands.unpersist()
    return _verify_keyed(sets, keyed, big=big)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # postings feed signatures AND candidate verification — shared index
    return verified_minhash_pairs(spark, sf_dir)


def _minhash_ctes(sh_body: str = _SHINGLES_SQL) -> str:
    """CTE chain ending with the verified ``vpairs`` — composed by the
    pair-emitting oracle, the connected-components oracle, and (with a
    capped ``sh_body``) the LSH recall report."""
    r = NUM_HASHES // BANDS
    mins = ",\n         ".join(
        f"MIN(ha + {i} * hb) AS m{i}" for i in range(NUM_HASHES)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '_' || ".join(f"CAST(m{b * r + j} AS VARCHAR)" for j in range(r))
        + " AS key FROM sig"
        for b in range(BANDS)
    )
    return f"""\
sh AS ({sh_body}),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 12))::BIGINT  AS ha,
         ('0x' || substr(md5(s), 13, 12))::BIGINT AS hb
  FROM sh),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed GROUP BY doc_id),
bands AS (
{band_selects}),
rbands AS (
  SELECT doc_id, band, key,
         ROW_NUMBER() OVER (PARTITION BY band, key ORDER BY doc_id) AS rk
  FROM bands),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rbands a JOIN rbands b
    ON a.band = b.band AND a.key = b.key
   AND b.rk > a.rk AND b.rk <= a.rk + {LSH_BUCKET_WINDOW}),
{_pair_jaccard_ctes("cand")}"""


def _minhash_sql() -> str:
    return f"""\
WITH {_minhash_ctes()}
SELECT doc_a, doc_b, jaccard FROM vpairs"""


register("dedup_exact", dedup_exact, DEDUP_EXACT_SQL)
register("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL)


# ---------------------------------------------------------------------------
# dedup_containment — asymmetric near-dup: shingle-overlap CONTAINMENT
# c/min(|A|,|B|) instead of Jaccard. Catches the doc-in-doc case a training
# pipeline cares about (a small document pasted inside a bigger one has high
# containment but low Jaccard, so MinHash-LSH — which bounds Jaccard — and
# the Jaccard threshold both miss it; Broder's original resemblance/
# containment pair distinguishes exactly these two). Both exact scores read
# the SAME session-cached overlap table (pair_overlap_table: one inverted-
# index self-join per session, bounded fan-out per shingle by DF_CAP); the
# score denominator — the SMALLER set — is the only difference. Same 100 TB
# shape: never all-pairs, postings persisted doc_id-partitioned, hot-shingle
# cap bounds the join fan-out.
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.6


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cont = F.col("c") / F.least(F.col("na"), F.col("nb"))
    return (
        pair_overlap_table(spark, sf_dir)
        .withColumn("containment", cont)
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("doc_a", "doc_b", "containment")
    )


DEDUP_CONTAINMENT_SQL = f"""\
WITH sh0 AS ({_SHINGLES_SQL}),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {DF_CAP}),
sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id)
SELECT i.doc_a, i.doc_b,
       i.c * 1.0 / LEAST(sa.n, sb.n) AS containment
FROM inter i
JOIN sz sa ON i.doc_a = sa.doc_id
JOIN sz sb ON i.doc_b = sb.doc_id
WHERE i.c * 1.0 / LEAST(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}"""


register("dedup_containment", dedup_containment, DEDUP_CONTAINMENT_SQL)
register("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_sql())


# ---------------------------------------------------------------------------
# dedup_simhash — 32-bit SimHash fingerprints + byte-banded near-dup pairs.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 2
_SIMHASH_BANDS = 4  # 4 bands × 8 bits: Hamming ≤ 3 ⟹ ≥1 band matches exactly
_BAND_W = SIMHASH_BITS // _SIMHASH_BANDS


def _simhash_col() -> Column:
    """Per-document SimHash over token hashes: bit p is the sign of
    Σ_tokens (±1 by token-hash bit p). Pure integer arithmetic — bitwise
    shifts, CASE, and SUM are identical in Spark and DuckDB."""
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("__ha"), p).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        )
        for p in range(SIMHASH_BITS)
    ]
    out = F.lit(0).cast("bigint")
    for p, s in enumerate(bit_sums):
        out = out + F.when(s > 0, F.lit(2**p)).otherwise(F.lit(0))
    return out


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # features = word 3-gram shingles: single tokens from a small vocabulary
    # make every document look alike; shingles discriminate
    hashed = _hash_fields(shingle_postings(spark, sf_dir))
    sigs = hashed.groupBy("doc_id").agg(_simhash_col().alias("simhash"))
    # band signatures: Hamming ≤ 3 over 4 bands pigeonholes into ≥1 equal band
    nib = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), _BAND_W * b).bitwiseAND(
                        F.lit(2**_BAND_W - 1)
                    )
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("band", "key"),
    )
    a, b = nib.alias("a"), nib.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (ha >> {p}) & 1 = 1 THEN 1 ELSE -1 END) AS s{p}"
        for p in range(SIMHASH_BITS)
    )
    fp = " + ".join(f"(CASE WHEN s{p} > 0 THEN {2**p} ELSE 0 END)" for p in range(SIMHASH_BITS))
    nib_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {_BAND_W * b}) & {2**_BAND_W - 1} AS key FROM sigs"
        for b in range(_SIMHASH_BANDS)
    )
    return f"""\
WITH sh AS ({_SHINGLES_SQL}),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 12))::BIGINT AS ha FROM sh),
bitsums AS (
  SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id),
sigs AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bitsums),
nib AS (
{nib_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM nib a JOIN nib b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}"""


register("dedup_simhash", dedup_simhash, _simhash_sql())


# ---------------------------------------------------------------------------
# dedup_cluster_cc — duplicate CLUSTERS, not just pairs: connected components
# over the verified MinHash-LSH pair graph, canonical keeper = min doc_id per
# component. This is the step a training-data pipeline actually ships — "of
# these near-duplicates, keep exactly one" — and pairwise ops alone can't
# express it (transitivity: a~b, b~c puts a,c in one cluster even if the
# sketch never paired them directly).
#
# Scale design: the iteration runs on the PAIR GRAPH (≪ corpus; only docs
# with at least one near-dup), never re-touching documents. Min-label
# propagation plus pointer jumping (label ← label[label]) converges in
# O(log diameter) rounds — the Hash-to-Min idea of Rastogi et al. (ICDE'13)
# — each round two small self-joins; lineage is truncated per round with
# localCheckpoint so plans don't grow. An iterative algorithm needs a driver
# convergence loop by nature; each round's action touches only the label
# table (|V| rows).
# ---------------------------------------------------------------------------

# Safety cap, not the expected round count: the loop breaks on convergence
# (empty improving-offer set), so extra headroom is free — and with
# truncated_checkpoint each round costs the same (the old nested-metadata
# blowup made late rounds exponentially slow, which hid that a shuffled
# 60-node PATH graph needs ~18 rounds, over the old cap of 16).  Real
# near-dup components are dense (every pair passed a Jaccard threshold) and
# converge in 2-4 rounds; the cap only matters for adversarial chain shapes
# like the LSH bucket-cap windows over mega-clone groups.
CC_MAX_ROUNDS = 64

# Frontier/offer tables at or below this row count are broadcast into the
# loop's joins (≤ ~2M × (2 long cols + row overhead) ≈ 50-100 MB in one
# executor's memory — comfortable on any cluster profile that runs CC at
# all, and far below the 5M-node sf100 graph's round-1 frontier, which
# correctly stays on the shuffle plan).
CC_BROADCAST_MAX_ROWS = 2_000_000


def connected_components(pairs: DataFrame, max_rounds: int = CC_MAX_ROUNDS) -> DataFrame:
    """(doc_id, cluster_id) for every node of the undirected (doc_a, doc_b)
    pair graph; cluster_id = min doc_id of the component."""
    # materialize the (tiny) pair list ONCE, before the forward/reverse union
    # doubles the plan — otherwise both union branches AND every round's join
    # and convergence check recompute the upstream pair pipeline (the full
    # LSH sketch) from scratch
    # DISK_ONLY: the pair list is read twice (forward/reverse union) and
    # never again; memory-resident blocks would only steal execution memory
    # from the loop's joins (sf100 lesson — see verified_minhash_pairs)
    p = disk_checkpoint(pairs)
    # the (possibly huge) pair-building pipeline is now materialized; its
    # shuffle files are dead weight for the whole iteration — reclaim them
    reclaim_shuffles(p)
    e = p.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    # GRAPH-SIZED loop partitioning (round 11): the session's shuffle
    # partition count is sized for the INPUT CORPUS (bytes-derived in the
    # scale probes), but every structure this loop touches is GRAPH-sized —
    # edges and labels, orders of magnitude narrower than the documents
    # that produced them.  Inheriting the corpus width over-partitions the
    # per-round joins and costs per-round fixed overhead that dominates at
    # middle scale (sf30: 863 s at 156 corpus-derived partitions vs 583 s
    # at 32 — measured, round 11).  The pair table is already materialized
    # (checkpoint above), so its exact cardinality is one cheap scan; size
    # the loop's edge partitioning at ~32 MB/partition of symmetric edges,
    # never above what the session would have used (clamped AFTER the cpu
    # floor — ADVICE r11: with shuffle.partitions set below
    # defaultParallelism the old form exceeded the session width).
    n_pairs = p.count()
    spark = p.sparkSession
    cpus = spark.sparkContext.defaultParallelism
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_loop = min(
        session_parts, max(cpus, work_partitions(2 * n_pairs, 16, session_parts))
    )
    # sym is read by EVERY round's neighbor join on v — persist it
    # pre-partitioned on the join key so rounds shuffle only the (small,
    # frontier-sized) label side instead of re-exchanging the full edge
    # list per round.  At sf100 (320M symmetric edges) the per-round edge
    # shuffle was the disk-spill driver (ENOSPC, found by the probe); here
    # it becomes a one-time build cost.
    sym = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(n_loop, "v")
        .persist()
    )
    lab = truncated_checkpoint(
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least(F.col("u"), F.col("mn")).alias("l"))
    )
    # FRONTIER shrink (round-9 verdict ask #6): labels are monotone
    # non-increasing, so once a full first round has offered every node's
    # label across every edge, only nodes whose label CHANGED need to
    # re-offer — an unchanged neighbor's offer was already folded in.
    # (Induction: a label set in round k puts its node in the round-k
    # frontier, so every edge re-sees it in round k+1; at fixpoint every
    # edge has lab[u] == lab[v].)  The per-round edge join then scales with
    # frontier-incident edges instead of |E| — on the sf30 clone graph the
    # frontier collapses to the few long chain tails after round 1.
    #
    # PER-ROUND frontier-sized planning (round-12, verdict ask #2): the
    # frontier/offer tables come out of truncated_checkpoint as bare
    # LogicalRDDs whose size Catalyst does NOT know — it defaults them huge
    # and plans the round's edge join as a full sort-merge, re-sorting the
    # corpus-scale edge list EVERY round (320M rows/round at sf100 — the
    # dominant cost of the 2880 s probe).  Each round's tables are already
    # materialized by the checkpoint, so counting them is one cheap scan;
    # when the frontier (and the offer table it produces) is small — every
    # round but the first on real dup graphs — broadcasting it turns the
    # edge join into a shuffle-free, sort-free broadcast-hash probe of the
    # persisted edge partitions, and the label-side merge/convergence joins
    # into broadcast probes of the checkpointed label table.
    frontier = lab
    n_front: int | None = None  # unknown before round 1 (= |V|, never small)
    for _ in range(max_rounds):
        # hop: candidate label for u = min label offered by its CHANGED
        # neighbors.  Convergence is checked BEFORE the merge/jump stages:
        # when no neighbor offers a smaller label (the common case after
        # init for clique/star-shaped dup clusters), the round costs one
        # join instead of joins + checkpoints.
        nbr = frontier.select(F.col("u").alias("v"), F.col("l").alias("nl"))
        if n_front is not None and n_front <= CC_BROADCAST_MAX_ROWS:
            nbr = F.broadcast(nbr)
        # prop is checkpointed (≤ node-sized): the convergence check AND the
        # merge both read it, so the round's neighbor join runs ONCE instead
        # of twice (check, then again under the merge's checkpoint)
        prop = truncated_checkpoint(
            sym.join(nbr, "v").groupBy("u").agg(F.min("nl").alias("pl"))
        )
        n_prop = prop.count()  # materialized by the checkpoint: cheap scan
        if n_prop == 0:
            break  # no offers at all ⇒ no improvement possible
        bprop = (
            F.broadcast(prop) if n_prop <= CC_BROADCAST_MAX_ROWS else prop
        )
        changed = (
            lab.join(bprop, "u")
            .filter(F.col("pl") < F.col("l"))
            .limit(1)
            .count()
        )
        if changed == 0:
            break
        step = lab.join(bprop, "u", "left").select(
            "u", F.least(F.col("l"), F.coalesce(F.col("pl"), F.col("l"))).alias("l")
        )
        # pointer jump ×2: label ← label of the label, twice per round —
        # quarters chain depth with node-sized joins that are cheap next to
        # the rounds of edge joins they save
        for _jump in range(2):
            ptr = step.select(F.col("u").alias("pu"), F.col("l").alias("pl2"))
            step = step.join(ptr, F.col("l") == F.col("pu"), "left").select(
                "u",
                F.least(F.col("l"), F.coalesce(F.col("pl2"), F.col("l"))).alias("l"),
            )
        new_lab = truncated_checkpoint(step)
        # next round's frontier: nodes whose label changed this round —
        # by offer OR by jump (a jump-induced change must re-offer too)
        frontier = truncated_checkpoint(
            new_lab.alias("n")
            .join(lab.alias("o"), "u")
            .filter(F.col("n.l") < F.col("o.l"))
            .select("u", F.col("n.l").alias("l"))
        )
        lab = new_lab
        n_front = frontier.count()  # materialized: cheap; sizes next round
        reclaim_shuffles(lab)  # each round's finished shuffles are garbage
    sym.unpersist()  # labels are checkpointed; the edge cache served only the loop
    return lab.select(F.col("u").alias("doc_id"), F.col("l").alias("cluster_id"))


def cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached (doc_id, cluster_id) labels of the verified near-dup
    pair graph — the family's third maintained artifact (pair table →
    clusters → every consumer: cluster listing, survivorship election,
    corpus filter).  The loop's final label table is already materialized
    by truncated_checkpoint, so caching it costs nothing beyond the
    reference; without it each consumer re-ran the whole iterative loop
    (at sf100: ~3 runs × ~20 rounds of joins over a 320M-edge graph)."""
    return session_cached(
        "cc_labels",
        spark,
        sf_dir,
        lambda: connected_components(verified_minhash_pairs(spark, sf_dir)),
    )


def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = cc_labels(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    # no broadcast hint: sizes has one row per duplicate CLUSTER — at corpus
    # scale that is not broadcast-sized; AQE picks broadcast when it is
    return cc.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_keeper"),
        "cluster_size",
    )


def _cc_sql() -> str:
    # transitive closure by recursive label walk — fine at oracle scale; the
    # Spark side uses the log-round algorithm instead
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
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id,
       CAST(c.doc_id = c.cluster_id AS INT) AS is_keeper,
       s.cluster_size
FROM cc c JOIN sizes s USING (cluster_id)"""


register("dedup_cluster_cc", dedup_cluster_cc, _cc_sql())


# ---------------------------------------------------------------------------
# dedup_fuzzy_name — edit-distance entity resolution over the DISTINCT value
# domain. The scale pattern: never fuzzy-join raw rows — first collapse to
# (value, support) via one exact groupBy (64 distinct names here vs 2k rows;
# at 100 TB the domain is still ~constant while rows grow), then block the
# distinct values on a cheap key (the trailing noun token) so the
# levenshtein comparisons run per block instead of all-pairs. Both the
# blocking and the comparison are built-in JVM expressions, and DuckDB's
# levenshtein is the same classic (unit-cost) edit distance, so the whole
# operator is oracle-checked.
# ---------------------------------------------------------------------------

FUZZY_MAX_DIST = 3


def dedup_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("support"))
        .withColumn("blk", F.regexp_extract("p_name", r"(\S+)$", 1))
    )
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("support").alias("support_a"), "blk"
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("support").alias("support_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist", "support_a", "support_b")
    )


DEDUP_FUZZY_NAME_SQL = f"""\
WITH n AS (
  SELECT p_name, COUNT(*) AS support,
         regexp_extract(p_name, '(\\S+)$', 1) AS blk
  FROM part GROUP BY p_name)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       a.support AS support_a, b.support AS support_b
FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}"""


register("dedup_fuzzy_name", dedup_fuzzy_name, DEDUP_FUZZY_NAME_SQL)


# ---------------------------------------------------------------------------
# dedup_survivorship — golden-record selection (the MDM step after duplicate
# clustering): every near-duplicate cluster elects ONE canonical document by
# an explicit precedence rule — longest text wins, ties break to the lowest
# doc_id — and the cluster's members fold into survivor-level stats.  The
# arg-max rides a struct maximum ((n_chars, −doc_id) — one aggregate, no
# window, no second shuffle after the member join), so election cost is one
# map-side-combining pass over cluster members regardless of corpus size.
# Reuses the session-cached MinHash pair + CC artifacts (same inputs as
# dedup_cluster_cc); the oracle re-derives the clusters via the recursive
# label walk and elects with ROW_NUMBER — agreement checks rule and
# clustering together.
# ---------------------------------------------------------------------------


def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = cc_labels(spark, sf_dir)
    d = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    members = cc.join(d, "doc_id")
    best = F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")))
    return members.groupBy("cluster_id").agg(
        best.getField("neg_id").cast("bigint").alias("__nid"),
        best.getField("n_chars").alias("canonical_chars"),
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    ).select(
        "cluster_id",
        (-F.col("__nid")).alias("canonical_doc"),
        "canonical_chars",
        "n_members",
        "total_chars",
    )


def _survivorship_sql() -> str:
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
members AS (
  SELECT c.cluster_id, c.doc_id, d.n_chars
  FROM cc c JOIN documents d ON c.doc_id = d.doc_id),
elected AS (
  SELECT cluster_id, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM members)
SELECT m.cluster_id,
       e.doc_id  AS canonical_doc,
       e.n_chars AS canonical_chars,
       COUNT(*)  AS n_members,
       CAST(SUM(m.n_chars) AS BIGINT) AS total_chars
FROM members m
JOIN elected e ON e.cluster_id = m.cluster_id AND e.rk = 1
GROUP BY m.cluster_id, e.doc_id, e.n_chars"""


register("dedup_survivorship", dedup_survivorship, _survivorship_sql())


# ---------------------------------------------------------------------------
# dedup_lsh_recall_report — the EVAL HARNESS of the dedup tier (what
# sim_recall_report is to the ANN tier): measures banded-MinHash candidate
# recall against the EXACT near-dup ground truth, per Jaccard band, so the
# (NUM_HASHES, BANDS) operating point is audited with numbers instead of the
# 1-(1-J^r)^b curve taken on faith.
#
# Apples-to-apples universe: BOTH sides run on the stop-shingle-CAPPED
# postings — ground truth is the inverted-index exact-Jaccard pair table
# (session-cached pair_overlap_table, same artifact dedup_ngram_jaccard
# reads), and the LSH side re-runs the full sketch pipeline (signatures →
# bands → bucket candidates → exact verify) on the same capped postings.
# Verified LSH pairs are a SUBSET of ground truth by construction, so
# found/truth per band IS recall; banding theory says it climbs toward 1 as
# J → 1, and the report shows exactly where it sags.  Band edges are EXACT
# integer comparisons on (intersection c, union u): J≥0.5 ⟺ 2c≥u,
# J≥0.7 ⟺ 10c≥7u — no float boundary can disagree between engines.  The
# J≥0.4 membership threshold reuses the family's double-division predicate
# (identical expression both sides; c,u are small integers so the ratio is
# never within an ulp of the literal).
#
# Scale: ground truth is the capped inverted-index join (bounded ~DF_CAP²/2
# pairs per shingle), LSH is the banded pipeline — no all-pairs anywhere; at
# 100 TB you'd run this report on a sampled slice, which changes only the
# input filter, not the plan.
# ---------------------------------------------------------------------------


def capped_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached stop-shingle-capped postings (the universe shared by
    the exact ground truth and the audited LSH pipeline)."""
    return session_cached(
        "capped_postings",
        spark,
        sf_dir,
        lambda: _capped(shingle_postings(spark, sf_dir)).persist(),
    )


_BAND_CASE = (
    "CASE WHEN 10 * {c} >= 7 * {u} THEN 'J>=0.7' "
    "WHEN 2 * {c} >= {u} THEN '0.5<=J<0.7' "
    "ELSE '0.4<=J<0.5' END"
)


def verified_minhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs over the stop-shingle-CAPPED postings — the
    LSH side of the recall report's apples-to-apples universe.  Session-
    cached + checkpointed for the same reason as verified_minhash_pairs:
    the sketch is the expensive part, the report is one join+rollup on top
    (round-11 bench variance: the report re-ran the full capped sketch per
    invocation, swinging 3.3 → 7.0 s run-to-run; warmup now prebuilds it)."""
    return session_cached(
        "verified_minhash_pairs_capped",
        spark,
        sf_dir,
        lambda: _checkpointed_pairs(
            capped_postings(spark, sf_dir), big=_corpus_is_big(sf_dir)
        ),
    )


def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    gt = (
        pair_overlap_table(spark, sf_dir)
        .withColumn("__u", F.col("na") + F.col("nb") - F.col("c"))
        .filter(F.col("c") / F.col("__u") >= JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.expr(_BAND_CASE.format(c="c", u="__u")).alias("band"),
        )
    )
    lsh = verified_minhash_pairs_capped(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("__found")
    )
    return (
        gt.join(lsh, ["doc_a", "doc_b"], "left")
        .rollup("band")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("__found"), F.lit(0)).alias("n_found"),
        )
        .select(
            F.coalesce(F.col("band"), F.lit("ALL")).alias("band"),
            "n_truth",
            "n_found",
            F.expr("n_found * 10000 DIV n_truth").alias("recall_bps"),
        )
    )


def _lsh_recall_sql() -> str:
    capped_body = f"SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)"
    band = _BAND_CASE.format(c="g.c", u="g.u")
    return f"""\
WITH sh0 AS ({_SHINGLES_SQL}),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {DF_CAP}),
{_minhash_ctes(capped_body)},
gt_inter AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS c
  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
  GROUP BY 1, 2),
gt AS (
  SELECT i.doc_a, i.doc_b, i.c, sa.n + sb.n - i.c AS u
  FROM gt_inter i
  JOIN sz sa ON sa.doc_id = i.doc_a
  JOIN sz sb ON sb.doc_id = i.doc_b
  WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= {JACCARD_THRESHOLD}),
joined AS (
  SELECT {band} AS band,
         CASE WHEN v.doc_a IS NULL THEN 0 ELSE 1 END AS found
  FROM gt g
  LEFT JOIN vpairs v ON v.doc_a = g.doc_a AND v.doc_b = g.doc_b)
SELECT COALESCE(band, 'ALL') AS band,
       COUNT(*)              AS n_truth,
       CAST(COALESCE(SUM(found), 0) AS BIGINT) AS n_found,
       CAST(COALESCE(SUM(found), 0) * 10000 // COUNT(*) AS BIGINT)
         AS recall_bps
FROM joined
GROUP BY ROLLUP(band)"""


register("dedup_lsh_recall_report", dedup_lsh_recall_report, _lsh_recall_sql())


# ---------------------------------------------------------------------------
# dedup_url_canonical — URL canonicalization dedup, the first pass of every
# web-corpus pipeline (the same page arrives as http/https, cased hosts,
# trailing slashes, shuffled or tracking-polluted query strings, fragments).
# Three deterministic noisy VARIANTS are synthesized per document (scheme
# flip + trailing slash, param reorder + fragment, UTM pollution + cased
# host) and the operator reduces them to one canonical form: lowercase
# host, https scheme, trailing slashes stripped, fragment dropped, and the
# query reduced to the allowlisted param (ref) only — then exact-dedups on
# the canonical string.  All component extraction is RE2-safe regexp
# (identical patterns both engines); the 3→1 collapse is asserted in the
# output (n_variants).  Scale shape: pure row-local string work + ONE
# hash-groupBy on the canonical key — the md5-fingerprint dedup plan with a
# normalizer in front.
# ---------------------------------------------------------------------------

_URL_VARIANTS = (
    "array("
    " 'https://' || upper(source) || '.example.org/' || lang || '/doc-' || doc_id"
    "   || '.html?ref=' || (doc_id % 7) || '&utm_source=mail',"
    " 'http://' || source || '.example.org/' || lang || '/doc-' || doc_id"
    "   || '.html/?ref=' || (doc_id % 7),"
    " 'https://' || source || '.example.org/' || lang || '/doc-' || doc_id"
    "   || '.html?utm_campaign=x&ref=' || (doc_id % 7) || '#frag')"
)
_URL_VARIANTS_DUCK = (
    "['https://' || upper(source) || '.example.org/' || lang || '/doc-' || doc_id"
    "   || '.html?ref=' || (doc_id % 7) || '&utm_source=mail',"
    " 'http://' || source || '.example.org/' || lang || '/doc-' || doc_id"
    "   || '.html/?ref=' || (doc_id % 7),"
    " 'https://' || source || '.example.org/' || lang || '/doc-' || doc_id"
    "   || '.html?utm_campaign=x&ref=' || (doc_id % 7) || '#frag']"
)


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    u = d.select(
        "doc_id", F.explode(F.expr(_URL_VARIANTS)).alias("url")
    )
    host = "lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1))"
    path = "regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), '/+$', '')"
    ref = "regexp_extract(url, '[?&]ref=([^&#]*)', 1)"
    canon = f"'https://' || {host} || {path} || '?ref=' || {ref}"
    return (
        u.withColumn("canonical_url", F.expr(canon))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


DEDUP_URL_CANONICAL_SQL = f"""\
WITH u AS (
  SELECT doc_id, UNNEST({_URL_VARIANTS_DUCK}) AS url FROM documents),
c AS (
  SELECT doc_id,
         'https://'
         || lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1))
         || regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
                           '/+$', '')
         || '?ref=' || regexp_extract(url, '[?&]ref=([^&#]*)', 1)
           AS canonical_url
  FROM u)
SELECT canonical_url,
       COUNT(*)                 AS n_variants,
       COUNT(DISTINCT doc_id)   AS n_docs,
       MIN(doc_id)              AS keeper_doc_id
FROM c
GROUP BY canonical_url"""


register("dedup_url_canonical", dedup_url_canonical, DEDUP_URL_CANONICAL_SQL)


# ---------------------------------------------------------------------------
# dedup_edit_distance — the EDIT-DISTANCE verification tier on top of the
# LSH pipeline: MinHash/Jaccard certifies SET overlap but is blind to token
# order ("a b c ... z" and its reversal share every unigram); the curation
# step that decides merge-vs-keep wants a sequence-aware score for the
# (bounded) near-dup pair list.  For every verified near-dup pair, compute
# the Levenshtein distance over the first EDIT_PREFIX characters (the cap
# bounds the O(m·n) DP per pair no matter how long documents get) plus the
# normalized distance in exact bps (dist·10⁴ DIV max(len_a, len_b, 1)).
# Spark's levenshtein() and DuckDB's levenshtein() implement the identical
# unit-cost DP, so the scores hash-match exactly.
# Scale shape: the pair list is the session-cached verified-pairs index
# (rows = true near-dups, never all-pairs); two doc_id-keyed joins attach
# the prefixes; per-pair cost is capped at EDIT_PREFIX² cell updates.
# ---------------------------------------------------------------------------

EDIT_PREFIX = 200


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = verified_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    t = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.substring("text", 1, EDIT_PREFIX).alias("p")
    )
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").cast("bigint").alias("edit_dist"),
            F.expr(
                "CAST(CAST(levenshtein(pa, pb) AS BIGINT) * 10000 "
                "DIV GREATEST(length(pa), length(pb), 1) AS BIGINT)"
            ).alias("dist_bps"),
        )
    )


def _edit_distance_sql() -> str:
    return f"""\
WITH {_minhash_ctes()},
t AS (SELECT doc_id, substr(text, 1, {EDIT_PREFIX}) AS p FROM documents)
SELECT v.doc_a, v.doc_b,
       CAST(levenshtein(ta.p, tb.p) AS BIGINT) AS edit_dist,
       CAST(CAST(levenshtein(ta.p, tb.p) AS BIGINT) * 10000
            // GREATEST(len(ta.p), len(tb.p), 1) AS BIGINT) AS dist_bps
FROM vpairs v
JOIN t ta ON ta.doc_id = v.doc_a
JOIN t tb ON tb.doc_id = v.doc_b"""


register("dedup_edit_distance", dedup_edit_distance, _edit_distance_sql())
