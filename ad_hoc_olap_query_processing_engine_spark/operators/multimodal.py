"""Multimodal-column plumbing (SURVEY.md §2.3 — NOT-IN-REFERENCE).

Image/audio/video payloads are opaque ``binary`` columns plus typed metadata.
The container has no decode libraries (PIL/ffmpeg), so the decode kernel is a
clearly-marked deterministic stand-in — but everything Spark-side is real and
tested: the binary column, the metadata schema, Arrow-batched ``mapInPandas``
with a declared output schema, and batch-shape-independent results.

mm_byte_stats       metadata over the binary payload with built-in
                    expressions only (byte length, first/last byte) —
                    oracle-checked against DuckDB's BLOB functions.

mm_feature_extract  the decode path: mapInPandas over (id, payload) batches
                    producing fixed-width feature vectors (byte-histogram
                    statistics as the deterministic fake; a real deployment
                    swaps `_decode_batch` for PIL/torchvision and keeps the
                    plumbing). Features are emitted as FEATURE_DIM scalar
                    columns f0..f7 (not one array column) so downstream
                    engines and the cross-engine hash check see plain
                    doubles; each f_i is a single exact-integer division
                    (count/len), which is correctly-rounded IEEE in both
                    numpy and DuckDB — bit-identical, fully oracle-checked.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .iterutil import generation
from .registry import register

FEATURE_DIM = 8


def _payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-cast as an opaque binary payload + media metadata
    (the driver data has no real image column; the binary plumbing is what
    is under test)."""
    d = load_table(spark, "documents", sf_dir)
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length("text").alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def mm_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    p = _payloads(spark, sf_dir)
    # Spark has no byte accessor on BINARY; the corpus is ASCII so the string
    # view of the payload gives the byte values (ascii == byte for ASCII).
    bytes_view = d.select(
        F.col("doc_id").alias("media_id"),
        F.ascii("text").cast("int").alias("first_byte"),
        F.ascii(F.substring(F.col("text"), -1, 1)).cast("int").alias("last_byte"),
    )
    return p.select("media_id", F.col("meta.n_bytes").alias("n_bytes")).join(
        bytes_view, "media_id"
    )


# the corpus is ASCII, so ord(char) == byte value on the DuckDB side
MM_BYTE_STATS_SQL = """\
SELECT doc_id                                           AS media_id,
       octet_length(encode(text))                       AS n_bytes,
       CAST(ord(substr(text, 1, 1)) AS INT)             AS first_byte,
       CAST(ord(substr(text, length(text), 1)) AS INT)  AS last_byte
FROM documents"""


def _decode_batch(payloads: list[bytes]) -> "np.ndarray":
    """STUB decode kernel, one Arrow batch at a time. A real image/audio
    decoder is NOT available in this container (no PIL/ffmpeg); this
    deterministic fake computes a per-payload byte-histogram so the
    distributed plumbing is exercised end-to-end. Vectorized ACROSS rows:
    all payloads concatenate into one uint8 buffer with segment ids, so the
    whole batch is two numpy passes (no per-row numpy-call overhead). Swap
    this single function for the real decoder."""
    import numpy as np

    n = len(payloads)
    lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
    feats = np.zeros((n, FEATURE_DIM), dtype=np.float64)
    if lens.sum() == 0:
        return feats
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    seg = np.repeat(np.arange(n, dtype=np.int64), lens)
    counts = np.bincount(
        seg * FEATURE_DIM + buf % FEATURE_DIM, minlength=n * FEATURE_DIM
    ).reshape(n, FEATURE_DIM)
    np.divide(counts, lens[:, None], out=feats, where=lens[:, None] > 0)
    return feats


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _payloads(spark, sf_dir)

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            payloads = [bytes(raw) for raw in pdf["payload"]]
            feats = _decode_batch(payloads)
            cols = {
                "media_id": pdf["media_id"],
                "n_bytes": pd.Series(
                    [len(b) for b in payloads], dtype="int64", index=pdf.index
                ),
            }
            for i in range(FEATURE_DIM):
                cols[f"f{i}"] = feats[:, i]
            yield pd.DataFrame(cols)

    schema = "media_id long, n_bytes long, " + ", ".join(
        f"f{i} double" for i in range(FEATURE_DIM)
    )
    return p.mapInPandas(extract, schema=schema)


def _mm_feature_extract_sql() -> str:
    """DuckDB mirror of the byte-histogram stand-in kernel: the corpus is
    ASCII so ord(char) == byte; f_i = count(byte % 8 == i) / n_bytes, one
    exact-integer double division per feature (bit-identical to numpy)."""
    feats = ",\n       ".join(
        f"COALESCE(SUM(CASE WHEN ord(substr(text, CAST(i AS INT), 1)) % {FEATURE_DIM} = {k} "
        f"THEN 1 ELSE 0 END), 0) / CAST(length(text) AS DOUBLE) AS f{k}"
        for k in range(FEATURE_DIM)
    )
    return f"""\
SELECT doc_id                            AS media_id,
       CAST(length(text) AS BIGINT)      AS n_bytes,
       {feats}
FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
GROUP BY doc_id, text"""


register("mm_byte_stats", mm_byte_stats, MM_BYTE_STATS_SQL)
register("mm_feature_extract", mm_feature_extract, _mm_feature_extract_sql())


# ---------------------------------------------------------------------------
# mm_frame_sample — the frame-sampling plumbing of a video/audio pipeline:
# split the opaque payload into fixed-width frames, keep every k-th full
# frame, emit per-frame metadata + content digest. The kernel runs per Arrow
# batch inside mapInPandas (exactly where a real ffmpeg frame extractor would
# sit); rows fan OUT (one per sampled frame), which mapInPandas supports
# natively — no driver involvement, no shuffle until someone aggregates.
# The md5 digest makes the sampled bytes themselves oracle-checkable.
# ---------------------------------------------------------------------------

FRAME_BYTES = 32
FRAME_SAMPLE_EVERY = 4


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _payloads(spark, sf_dir)

    def sample(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_md5": [], "first_byte": []}
            for mid, raw in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(raw)
                for j in range(0, len(data) // FRAME_BYTES, FRAME_SAMPLE_EVERY):
                    frame = data[j * FRAME_BYTES : (j + 1) * FRAME_BYTES]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(j)
                    out["frame_md5"].append(hashlib.md5(frame).hexdigest())
                    out["first_byte"].append(frame[0])
            yield pd.DataFrame(out)

    schema = "media_id long, frame_idx int, frame_md5 string, first_byte int"
    return p.mapInPandas(sample, schema=schema)


# corpus is ASCII → substr == byte slice, and DuckDB md5(VARCHAR) hashes the
# same bytes hashlib.md5 sees
MM_FRAME_SAMPLE_SQL = f"""\
SELECT doc_id AS media_id,
       CAST(j AS INT) AS frame_idx,
       md5(substr(text, CAST(j * {FRAME_BYTES} + 1 AS INT), {FRAME_BYTES})) AS frame_md5,
       CAST(ord(substr(text, CAST(j * {FRAME_BYTES} + 1 AS INT), 1)) AS INT) AS first_byte
FROM documents, unnest(range(0, length(text) // {FRAME_BYTES})) AS u(j)
WHERE j % {FRAME_SAMPLE_EVERY} = 0"""


register("mm_frame_sample", mm_frame_sample, MM_FRAME_SAMPLE_SQL)


# ---------------------------------------------------------------------------
# mm_resize — the resize/downsample plumbing: shrink each payload to at most
# RESIZE_TARGET samples by striding (stride = ceil(len/target), the
# nearest-neighbor decimation a real image resize reduces to on a 1-D
# signal). Kernel in mapInPandas where PIL's thumbnail() would sit; the
# output digest makes the resampled bytes oracle-checkable. A real deployment
# swaps the stride loop for the decoder call and keeps the schema.
# ---------------------------------------------------------------------------

RESIZE_TARGET = 64


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _payloads(spark, sf_dir)

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        import pandas as pd

        for pdf in batches:
            out = {"media_id": [], "orig_len": [], "resized_len": [], "resized_md5": []}
            for mid, raw in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(raw)
                stride = max(1, -(-len(data) // RESIZE_TARGET))  # ceil div
                small = data[::stride]
                out["media_id"].append(mid)
                out["orig_len"].append(len(data))
                out["resized_len"].append(len(small))
                out["resized_md5"].append(hashlib.md5(small).hexdigest())
            yield pd.DataFrame(out)

    schema = "media_id long, orig_len long, resized_len int, resized_md5 string"
    return p.mapInPandas(resize, schema=schema)


# stride positions 1, 1+k, 1+2k … ≤ len — with k = ceil(len/target) this
# yields ceil(len/k) ≤ target samples, exactly python's data[::k]
MM_RESIZE_SQL = f"""\
WITH sized AS (
  SELECT doc_id, text, length(text) AS n,
         GREATEST(1, CAST(CEIL(length(text) / {RESIZE_TARGET}.0) AS INT)) AS k
  FROM documents),
small AS (
  SELECT doc_id, n,
         array_to_string(
           list_transform(range(0, CAST(CEIL(n / (1.0 * k)) AS INT)),
                          j -> substr(text, CAST(1 + j * k AS INT), 1)), '') AS s
  FROM sized)
SELECT doc_id AS media_id,
       CAST(n AS BIGINT) AS orig_len,
       CAST(length(s) AS INT) AS resized_len,
       md5(s) AS resized_md5
FROM small"""


register("mm_resize", mm_resize, MM_RESIZE_SQL)


# ---------------------------------------------------------------------------
# mm_arrow_bytesum — the mapInArrow surface: the kernel receives and returns
# raw pyarrow RecordBatches (no pandas materialization at all), the right
# API when the decode library itself speaks Arrow buffers (pyarrow-image,
# audio frame readers) or when pandas conversion would dominate. Same
# vectorized shape as _decode_batch: the whole batch concatenates into one
# uint8 buffer + segment ids, two numpy passes, no per-row Python.
# ---------------------------------------------------------------------------


def mm_arrow_bytesum(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _payloads(spark, sf_dir).select("media_id", "payload")

    def kernel(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            payloads = batch.column("payload").to_pylist()
            n = len(payloads)
            lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=n)
            if n and lens.sum():
                buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
                seg = np.repeat(np.arange(n, dtype=np.int64), lens)
                sums = np.bincount(seg, weights=buf, minlength=n).astype(np.int64)
            else:
                sums = np.zeros(n, dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column("media_id"), pa.array(lens), pa.array(sums)],
                names=["media_id", "n_bytes", "byte_sum"],
            )

    return p.mapInArrow(kernel, schema="media_id long, n_bytes long, byte_sum long")


# ASCII corpus: ord(char) == byte value, so the per-char sum mirrors the
# uint8 buffer sum exactly
MM_ARROW_BYTESUM_SQL = """\
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
sums AS (
  SELECT doc_id, CAST(SUM(ord(c)) AS BIGINT) AS byte_sum
  FROM chars GROUP BY doc_id)
SELECT d.doc_id                    AS media_id,
       octet_length(encode(d.text)) AS n_bytes,
       s.byte_sum
FROM documents d JOIN sums s ON s.doc_id = d.doc_id"""


register("mm_arrow_bytesum", mm_arrow_bytesum, MM_ARROW_BYTESUM_SQL)


# ---------------------------------------------------------------------------
# mm_ahash_dedup — perceptual near-duplicate detection for binary media by
# AVERAGE HASH: the payload's byte stream is split into 64 equal blocks,
# each block contributes one bit (its byte-sum above the payload mean), and
# payloads whose 64-bit signatures lie within a small hamming radius are
# near-duplicates.  This is the aHash family image pipelines run before
# expensive embedding dedup; with a real decoder the blocks would be
# downsampled pixels — the signature/banding/verify machinery is identical.
#
# Scale shape: the signature kernel runs vectorized in Arrow batches
# (mapInPandas — exactly the seat a real image decoder/downsampler
# occupies; an earlier all-higher-order-function formulation evaluated an
# interpreted lambda per BYTE and was ~50× slower, since Spark HOF lambdas
# never enter whole-stage codegen).  Candidate generation is LSH-style
# banding — the 64 bits split into four 16-bit bands, explode → equi-join
# on (band, value) — so only band-colliding pairs are ever verified (168
# of 125k possible pairs at sf0.001; wide bands keep bucket occupancy
# near-constant as the corpus grows, so candidate volume stays
# near-linear), and verification is four XOR+bit_count ops on the
# already-joined rows.  All arithmetic is exact integers; the DuckDB
# oracle states the SAME banded-candidate contract (band-share ∧ hamming ≤
# T — banding recall vs exhaustive is the documented LSH trade-off, not a
# bug), so the hash match proves signature, banding, and verify together.
# ---------------------------------------------------------------------------

AHASH_BLOCKS = 64
AHASH_BANDS = 4  # 4 bands × 16 bits — wide bands keep bucket sizes ~O(1)
AHASH_HAM_T = 10


def _ahash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _payloads(spark, sf_dir).select("media_id", "payload")

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        nb = AHASH_BLOCKS
        bits_per_band = nb // AHASH_BANDS
        weights = (1 << np.arange(bits_per_band, dtype=np.int64))
        for pdf in batches:
            out_bands = []
            for raw in pdf["payload"]:
                data = np.frombuffer(bytes(raw), dtype=np.uint8).astype(np.int64)
                n = len(data)
                # block i covers bytes [floor(i·n/64), floor((i+1)·n/64))
                bounds = np.floor(np.arange(nb + 1) * n / float(nb)).astype(np.int64)
                sums = np.add.reduceat(
                    np.concatenate([data, [0]]), np.minimum(bounds[:-1], n)
                )[:nb]
                # reduceat quirk: an empty segment (equal consecutive bounds)
                # returns the NEXT element, not 0 — zero those out explicitly
                sums[bounds[:-1] == bounds[1:]] = 0
                total = int(data.sum())
                bits = (nb * sums > total).astype(np.int64)
                out_bands.append(
                    (bits.reshape(AHASH_BANDS, bits_per_band) * weights).sum(axis=1)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["media_id"], "bands": [b.tolist() for b in out_bands]}
            )

    return p.mapInPandas(kernel, "doc_id long, bands array<long>")


def mm_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the signature table before banding/joining: without the
    # barrier Catalyst collapses the (nested higher-order) signature
    # expression into the explode→join→distinct pipeline and re-evaluates
    # it per consumer — localCheckpoint turns the join inputs into plain
    # columns (measured: candidate join went from wedged >200 s to
    # sub-second at sf0.001). A warehouse materializes this signature
    # table anyway — it is the reusable dedup index.  LAZY (round 13): the
    # DataFrame-level truncation that stops the re-evaluation happens at
    # call time in both modes; eager's blocking count() only serialized
    # the Python signature pass ahead of the query job (A/B at sf0.1:
    # 0.67-0.79 → 0.60-0.64 s, identical rows).
    with generation("mm_ahash_dedup") as pins:
        bands = _ahash_bands(spark, sf_dir).transform(pins.checkpoint, eager=False)
    sig = bands.select(
        "doc_id", F.posexplode("bands").alias("band_idx", "band_val")
    )
    other = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band_idx").alias("bi"),
        F.col("band_val").alias("bv"),
    )
    cand = (
        sig.join(
            other,
            (F.col("band_idx") == F.col("bi"))
            & (F.col("band_val") == F.col("bv"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    ba = bands.select(F.col("doc_id").alias("doc_a"), F.col("bands").alias("ba"))
    bb = bands.select(F.col("doc_id").alias("doc_b"), F.col("bands").alias("bb"))
    ham = F.expr(
        "aggregate(sequence(0, 3), 0L, (acc, j) -> acc + bit_count("
        "element_at(ba, CAST(j + 1 AS INT)) ^ element_at(bb, CAST(j + 1 AS INT))))"
    )
    return (
        cand.join(ba, "doc_a")
        .join(bb, "doc_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= AHASH_HAM_T)
        .select("doc_a", "doc_b", "hamming")
    )


MM_AHASH_DEDUP_SQL = f"""\
WITH blocks AS (
  SELECT doc_id,
         list_transform(range(64), i ->
           COALESCE(list_sum(list_transform(
             range(CAST(FLOOR(i * len(text) / 64.0) AS BIGINT) + 1,
                   CAST(FLOOR((i + 1) * len(text) / 64.0) AS BIGINT) + 1),
             p -> ascii(substr(text, CAST(p AS INT), 1)))), 0)) AS bs
  FROM documents),
tot AS (SELECT doc_id, bs, list_sum(bs) AS total FROM blocks),
bits AS (
  SELECT doc_id,
         list_transform(range(64), i ->
           CASE WHEN 64 * bs[CAST(i AS INT) + 1] > total THEN 1 ELSE 0 END) AS bit
  FROM tot),
bands AS (
  SELECT doc_id,
         list_transform(range(4), j ->
           list_sum(list_transform(range(16), k ->
             bit[CAST(j * 16 + k AS INT) + 1] * (1 << CAST(k AS INT))))) AS bd
  FROM bits),
sig AS (
  SELECT doc_id, i AS band_idx, bd[CAST(i AS INT) + 1] AS band_val
  FROM bands, unnest(range(4)) AS u(i)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b,
       CAST(list_sum(list_transform(range(4), j ->
         bit_count(xor(CAST(x.bd[CAST(j AS INT) + 1] AS BIGINT),
                       CAST(y.bd[CAST(j AS INT) + 1] AS BIGINT))))) AS BIGINT) AS hamming
FROM cand c
JOIN bands x ON c.doc_a = x.doc_id
JOIN bands y ON c.doc_b = y.doc_id
WHERE list_sum(list_transform(range(4), j ->
        bit_count(xor(CAST(x.bd[CAST(j AS INT) + 1] AS BIGINT),
                      CAST(y.bd[CAST(j AS INT) + 1] AS BIGINT))))) <= {AHASH_HAM_T}"""


register("mm_ahash_dedup", mm_ahash_dedup, MM_AHASH_DEDUP_SQL)


# ---------------------------------------------------------------------------
# mm_chunk_manifest — the SHARD/CHUNK manifest for large binary payloads:
# training loaders store multimodal blobs as fixed-size chunks (tar-shard /
# object-store range reads) and keep a manifest of (media_id, chunk_idx,
# offset, length, digest).  This op derives that manifest relationally:
# chunk boundaries by pure integer arithmetic (CEIL(n_bytes / CHUNK) chunks,
# last one ragged), content digests via md5 over each chunk's bytes (the
# corpus payload is ASCII, so the char-level substring IS the byte slice in
# both engines — the same ASCII contract as mm_byte_stats).  Everything is
# JVM expressions: sequence → transform → posexplode, no Python, no shuffle;
# rows fan out n_bytes/CHUNK per blob — the manifest's own size.
# ---------------------------------------------------------------------------

MM_CHUNK_BYTES = 64  # small so the fixture's ~100-300 byte docs multi-chunk


def mm_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _payloads(spark, sf_dir)
    n = F.col("meta.n_bytes")
    n_chunks = F.ceil(n / F.lit(float(MM_CHUNK_BYTES))).cast("int")
    idxs = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    txt = F.col("payload").cast("string")  # ASCII: chars == bytes
    return (
        p.select(
            "media_id",
            n.alias("n_bytes"),
            n_chunks.alias("n_chunks"),
            F.posexplode(idxs).alias("_pos", "chunk_idx"),
            txt.alias("_txt"),
        )
        .select(
            "media_id",
            "n_chunks",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * MM_CHUNK_BYTES).cast("bigint").alias("offset"),
            F.least(
                F.lit(MM_CHUNK_BYTES).cast("bigint"),
                F.col("n_bytes") - F.col("chunk_idx") * MM_CHUNK_BYTES,
            ).alias("chunk_len"),
            F.md5(
                F.substring(
                    F.col("_txt"), F.col("chunk_idx") * MM_CHUNK_BYTES + 1, MM_CHUNK_BYTES
                ).cast("binary")
            ).alias("chunk_md5"),
        )
    )


MM_CHUNK_MANIFEST_SQL = f"""\
WITH b AS (
  SELECT doc_id AS media_id, text,
         octet_length(CAST(text AS BLOB)) AS n_bytes,
         CAST(CEIL(octet_length(CAST(text AS BLOB)) / {MM_CHUNK_BYTES}.0) AS INT)
           AS n_chunks
  FROM documents)
SELECT media_id, n_chunks,
       CAST(i AS INT) AS chunk_idx,
       CAST(i * {MM_CHUNK_BYTES} AS BIGINT) AS offset,
       CAST(LEAST({MM_CHUNK_BYTES}, n_bytes - i * {MM_CHUNK_BYTES}) AS BIGINT)
         AS chunk_len,
       md5(substr(text, CAST(i * {MM_CHUNK_BYTES} + 1 AS INT), {MM_CHUNK_BYTES}))
         AS chunk_md5
FROM b, unnest(range(0, n_chunks)) AS u(i)"""


register("mm_chunk_manifest", mm_chunk_manifest, MM_CHUNK_MANIFEST_SQL)
