"""Streaming near-dup index maintenance (round 13).

``stream_minhash_maintenance`` drives the SAME exact maintenance algebra
that pipe_minhash_incremental certifies for one CDC batch through a REAL
Structured Streaming pipeline: the documents table is split into
``N_STREAM_BATCHES`` deterministic insert batches (doc_id % N), fed through
a file-source ``readStream`` one file per trigger, and ``foreachBatch``
folds each micro-batch into the maintained store (band index, per-bucket
provenance candidates, verified pairs, posting index).  After the stream
drains, the maintained pair table is returned — and its DuckDB oracle is
the FULL-RECOMPUTE mirror (dedup._minhash_sql), i.e. the claim is that a
pair index maintained incrementally across a whole stream of inserts is
bit-identical to rebuilding from scratch.

Each fold step is ``pipeline.refresh_pair_store`` — correct-store(C) +
new-docs(B) → correct-store(C ∪ B); the postcondition matches the next
step's precondition, so the induction covers any number of micro-batches,
and the final result is independent of how the file source happens to
group files into triggers (any grouping is still a disjoint insert batch).

At 100 TB this is the production shape for a LIVING corpus fed by a queue:
per batch the work is |batch| shingling + band hashing, a co-located
semi-join to fetch dirty buckets, windowed re-pairing of those buckets
only, and verification of genuinely new candidate pairs — the base corpus
is never rescanned.  The store frames are DISK_ONLY-checkpointed between
batches (bounded lineage — the round-10 iterative-checkpoint lesson) and
the previous generation's blocks are released as soon as the new
generation is materialized, so state on the host is one store generation,
not one per batch.  Across calls the drive's pins are the call's
generation (``iterutil.generation``); generation 0 is four empty frames.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.iterutil import generation, overlap
from ..operators.registry import register
from ..sources.catalog import load_table

N_STREAM_BATCHES = 3


def _write_batches(spark: SparkSession, sf_dir: str) -> str:
    """Split documents into N_STREAM_BATCHES parquet files (doc_id % N) with
    ascending mtimes, so the file source offers them as separate triggers in
    a deterministic order.  Rewritten per call — the fold's result is
    order-independent anyway (see module header)."""
    # imported here, not at module level: importing windows registers its
    # queries, and the registry's order must not depend on this module
    from .windows import stream_dir

    out = stream_dir("spark_graft_stream_docs", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(out):
        os.remove(os.path.join(out, f))

    def write_one(i: int) -> None:
        part = docs.filter(F.col("doc_id") % N_STREAM_BATCHES == i)
        tmp = os.path.join(out, f".batch_{i}.tmp")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            os.path.join(tmp, f) for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = os.path.join(out, f"batch_{i}.parquet")
        os.rename(src, dst)
        os.utime(dst, (i + 1, i + 1))  # ascending mtimes → stable offer order
        shutil.rmtree(tmp)

    # the N batch writes are independent single-file jobs — overlap them;
    # mtimes are set per file after its write, so the offer order stays
    # deterministic regardless of write completion order
    overlap(*[lambda i=i: write_one(i) for i in range(N_STREAM_BATCHES)])
    return out


def _stream_empty_store(
    spark: SparkSession, docs: DataFrame, big: bool
) -> dict[str, DataFrame]:
    """Generation-0 store: EMPTY but schema-correct frames (schemas derived
    from the real pipelines over a zero-row doc frame, never hardcoded).
    The first fold's "kept" legs are then no-ops and the refresh degenerates
    to a from-scratch build of batch 0.  ``createDataFrame([], schema)``
    frames share no plan node with a fold's legs, start no Spark job and
    hold no blocks, so nothing owns or caches them."""
    from ..operators.dedup import _shingles, _verify_candidates, lsh_bands
    from ..operators.pipeline import _windowed_bucket_pairs

    empty_sh = _shingles(docs.limit(0))
    empty_bands = lsh_bands(empty_sh)
    empty_cands = _windowed_bucket_pairs(empty_bands)
    empty = {
        "bands": empty_bands,
        "cands": empty_cands,
        "pairs": _verify_candidates(
            empty_sh, empty_cands.select("doc_a", "doc_b"), big=big
        ),
        "postings": empty_sh,
    }
    return {k: spark.createDataFrame([], df.schema) for k, df in empty.items()}


def stream_minhash_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pair table maintained across a stream of insert
    micro-batches; ≡ a from-scratch rebuild over the whole corpus.

    Every invocation DRIVES the stream (a timed run pays the micro-batch
    fold).  One generation is live: the drive's pins are the call's
    generation (``iterutil.generation``), so a frame kept from an earlier
    call cannot be read after a later call — its blocks are gone."""
    from ..operators.dedup import _corpus_is_big, _shingles
    from ..operators.pipeline import refresh_pair_store
    from .windows import file_stream

    batch_src = _write_batches(spark, sf_dir)
    big = _corpus_is_big(sf_dir)
    # the batches are slices of the documents table: the stream and g0 take
    # their schemas from it, so a batch dir without files drives zero folds
    # (guarded below) instead of failing schema inference
    docs = load_table(spark, "documents", sf_dir)
    g0 = _stream_empty_store(spark, docs, big)
    state: dict[str, DataFrame] = dict(g0)
    legs: list[DataFrame] = []
    pair_legs: list[DataFrame] = []

    def fold(bdf: DataFrame, batch_id: int) -> None:
        # The band and posting stores are APPEND-ONLY under inserts, so the
        # per-batch materialization is the BATCH's leg, not a rewrite of the
        # whole corpus-sized store (round 14, guide §2.3/§6: per-batch cost
        # O(|batch|) writes instead of O(|corpus|)); the store frames stay
        # unions of bare-LogicalRDD legs, which rewrite cleanly under
        # Catalyst's union constraint rule.  The pruned/recomputed stores
        # (cands, pairs) genuinely change per batch and keep their
        # generation checkpoints.
        sh_b = pins.checkpoint(_shingles(bdf), disk=True)
        postings_all = state["postings"].unionByName(sh_b)
        frames = refresh_pair_store(
            spark,
            state["bands"],
            state["cands"],
            state["pairs"],
            bdf,
            postings_all,
            big=big,
            pins=pins,
        )
        # materialize the NEW store generation, then release the batch
        # working set and the PREVIOUS generation's blocks — live state on
        # the host is one store generation, not one per micro-batch.
        # Anti-join legs (kept_cands, kept_base) are checkpointed SEPARATELY
        # and unioned as bare LogicalRDDs: checkpointing a union whose leg
        # is an anti-join trips Catalyst's union constraint rewrite with
        # the right side's attributes (NoSuchElementException: key not
        # found: band#N); unions of bare LogicalRDDs rewrite cleanly.
        # The two pruned-store generation legs are independent — overlap.
        kept_cands_ck, kept_base_ck = overlap(
            lambda: pins.checkpoint(frames["kept_cands"], disk=True),
            lambda: pins.checkpoint(frames["kept_base"], disk=True),
        )
        legs.extend([sh_b, frames["delta_bands"]])
        state["bands"] = state["bands"].unionByName(frames["delta_bands"])
        state["cands"] = kept_cands_ck.unionByName(frames["cand_dirty"])
        state["pairs"] = kept_base_ck.unionByName(frames["fresh_verified"])
        state["postings"] = postings_all
        pair_legs[:] = [kept_base_ck, frames["fresh_verified"]]
        pins.release(*legs, kept_cands_ck, frames["cand_dirty"], *pair_legs)

    # ONE owner for everything the drive pins, the call's generation: each
    # fold releases all but the live store (one generation of cands/pairs
    # plus the append-only band and posting legs accumulated so far)
    with generation("stream_minhash_maintenance") as pins:
        stream = file_stream(spark, batch_src, docs.schema)
        q = stream.writeStream.foreachBatch(fold).trigger(availableNow=True).start()
        q.awaitTermination()
        if state["pairs"] is g0["pairs"]:
            # nothing was maintained: the empty g0 table is not a result
            raise RuntimeError(
                f"stream_minhash_maintenance: no micro-batch folded from {batch_src}"
            )
        # the caller consumes only the pair table; release everything else
        # the drive pinned (final cands generation, band and posting legs)
        pins.release(*pair_legs)
    return state["pairs"]


def _maintenance_sql() -> str:
    from ..operators.dedup import _minhash_sql

    return _minhash_sql()


register(
    "stream_minhash_maintenance", stream_minhash_maintenance, _maintenance_sql()
)
