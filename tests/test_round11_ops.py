"""Round-11 pins.

Headline: the sf100 probe fixes to the near-dup dedup family —
(a) the bucket-class membership digest is now O(1)-state and commutative
    (count / bit_xor / decimal-sum of per-member xxhash64) instead of a
    collect_list of every member, so a degenerate mega bucket cannot build
    a multi-MB aggregation buffer in one task (round-10 verdict #4);
(b) the candidate/verify joins are merge-hinted (spillable) instead of
    shuffle_hash (non-spillable build maps — the sf100 OOM);
(c) the set fingerprint is injective under '\\x1f'-containing shingles
    (length-prefixed elements — round-11 advice #1).

These tests pin the SEMANTICS those rewrites must preserve: the windowed
pair set of a mega-clone bucket, cross-class separation, and fingerprint
injectivity.
"""

from __future__ import annotations

import pytest

from ad_hoc_olap_query_processing_engine_spark.operators.dedup import (
    LSH_BUCKET_WINDOW,
    _shingles,
    _verify_candidates,
    minhash_pairs,
)
from ad_hoc_olap_query_processing_engine_spark.operators.iterutil import Pins


@pytest.fixture
def pins():
    """Owner of the big path's DISK_ONLY persists, released after the test."""
    p = Pins()
    yield p
    p.release()


def _windowed_pairs(ids: list[int], w: int = LSH_BUCKET_WINDOW) -> set[tuple[int, int]]:
    """Expected sorted-neighborhood pairs of one bucket: member i pairs with
    its next w neighbors in doc_id order (the LSH_BUCKET_WINDOW contract)."""
    s = sorted(ids)
    return {
        (s[i], s[j])
        for i in range(len(s))
        for j in range(i + 1, min(i + w + 1, len(s)))
    }


def test_minhash_mega_bucket_windowed_pairs_exact(spark, pins):
    """A 200-clone group (>> LSH_BUCKET_WINDOW) — the mega-bucket shape the
    O(1) membership digest exists for — must emit exactly the windowed pair
    set, all verified at Jaccard 1, plus the full clique of a small group."""
    mega = [(i, "the quick brown fox jumps over the lazy dog") for i in range(1, 201)]
    small = [(1000 + i, "entirely different words appear in this one") for i in range(5)]
    docs = spark.createDataFrame(mega + small, ["doc_id", "text"])
    got = minhash_pairs(_shingles(docs), pins).collect()

    expected = _windowed_pairs([i for i, _ in mega]) | _windowed_pairs(
        [i for i, _ in small]
    )
    assert {(r.doc_a, r.doc_b) for r in got} == expected
    assert all(r.jaccard == 1.0 for r in got)  # clones: exact Jaccard 1


def test_bucket_class_digest_separates_distinct_memberships(spark, pins):
    """Two clone groups whose buckets differ ONLY in membership must stay
    distinct bucket classes: each group's windowed pairs appear, and no
    cross-group pair leaks (a digest collision would merge the classes and
    drop one group's pairs)."""
    g1 = [(i, "alpha beta gamma delta epsilon zeta") for i in range(1, 4)]
    g2 = [(100 + i, "one two three four five six seven") for i in range(1, 5)]
    docs = spark.createDataFrame(g1 + g2, ["doc_id", "text"])
    got = {(r.doc_a, r.doc_b) for r in minhash_pairs(_shingles(docs), pins).collect()}
    assert got == _windowed_pairs([i for i, _ in g1]) | _windowed_pairs(
        [i for i, _ in g2]
    )


def test_set_fingerprint_injective_on_separator_shingles(spark):
    """Round-11 advice #1: a shingle containing the '\\x1f' separator must
    not alias a different shingle set onto the same fingerprint.  The two
    docs here produce element lists that the UNPREFIXED join would encode
    identically (['a\\x1fb'] vs ['a', 'b'] -> 'a\\x1fb'); with distinct sets
    their Jaccard is 0, so a collision would fabricate a verified pair with
    jaccard 1."""
    sh = spark.createDataFrame(
        [(1, "a\x1fb"), (2, "a"), (2, "b")], ["doc_id", "s"]
    )
    cand = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    got = _verify_candidates(sh, cand).collect()
    assert got == []  # disjoint sets: Jaccard 0, below threshold


def test_minhash_small_and_big_paths_agree(spark, pins):
    """``big`` selects the physical shape only: the one-shot small-corpus
    plan and the canonicalized/persisted big-corpus plan must emit the same
    (doc_a, doc_b, jaccard) rows on a mixed fixture (clone groups of
    different sizes + uniques + a mega group over the bucket window)."""
    docs = (
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(1, 41)]
        + [(100 + i, "pack my box with five dozen liquor jugs") for i in range(3)]
        + [(200 + i, f"unique document number {i} with its own words") for i in range(5)]
    )
    sh = _shingles(spark.createDataFrame(docs, ["doc_id", "text"]))
    small = {(r.doc_a, r.doc_b, r.jaccard) for r in minhash_pairs(sh, pins, big=False).collect()}
    bigp = {(r.doc_a, r.doc_b, r.jaccard) for r in minhash_pairs(sh, pins, big=True).collect()}
    assert small == bigp
    assert small  # non-degenerate fixture


def test_verify_candidates_has_no_nonspillable_build(spark):
    """Physical pin for the sf100 fix: the pair-path joins must not plan a
    ShuffledHashJoin (non-spillable build map) or a statically-misestimated
    broadcast of a corpus-sized side — merge hints force spillable
    sort-merge joins on every pair-path join."""
    sh = spark.createDataFrame([(i, f"w{i}") for i in range(50)], ["doc_id", "s"])
    cand = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 48, 2)], ["doc_a", "doc_b"]
    )
    plan = (
        _verify_candidates(sh, cand)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" not in plan
