"""Pair-store maintenance (streaming/maintenance.py and the CDC refresh in
operators/pipeline.py): edge cases of the stream drive, generation 0 and
the order in which a call retires the previous store generation."""

from __future__ import annotations

import pytest

from .conftest import SF_SMALL


def test_drive_without_batches_raises(spark, tmp_path, monkeypatch):
    """A drive that folds no micro-batch must fail clearly instead of
    returning the empty generation-0 frames as its result, and leave the
    previous drive's generation live."""
    from ad_hoc_olap_query_processing_engine_spark.operators import iterutil
    from ad_hoc_olap_query_processing_engine_spark.streaming import maintenance

    live = iterutil._LIVE["stream_minhash_maintenance"]
    monkeypatch.setattr(maintenance, "_write_batches", lambda spark, sf: str(tmp_path))
    with pytest.raises(RuntimeError, match="no micro-batch folded"):
        maintenance.stream_minhash_maintenance(spark, SF_SMALL)
    assert iterutil._LIVE["stream_minhash_maintenance"] is live


def test_empty_store_starts_no_job_and_caches_nothing(spark):
    from ad_hoc_olap_query_processing_engine_spark.operators import session_cache
    from ad_hoc_olap_query_processing_engine_spark.sources.catalog import load_table
    from ad_hoc_olap_query_processing_engine_spark.streaming import maintenance

    jobs = spark.sparkContext._jsc.sc().dagScheduler()
    docs = load_table(spark, "documents", SF_SMALL)
    entries = {n: list(c) for n, c in session_cache._CACHES.items()}
    n0 = jobs.numTotalJobs()
    g0 = maintenance._stream_empty_store(spark, docs, big=False)
    assert jobs.numTotalJobs() == n0
    assert {n: list(c) for n, c in session_cache._CACHES.items()} == entries
    assert sorted(g0) == ["bands", "cands", "pairs", "postings"]
    assert all(df.isEmpty() for df in g0.values())


def _early_releases(spark, monkeypatch, call) -> int:
    """Run ``call`` twice; of the blocks the second call frees that it did
    not pin itself (the first call's store generation), count those freed
    before the second call's last Spark job."""
    from ad_hoc_olap_query_processing_engine_spark.operators import session_cache
    from ad_hoc_olap_query_processing_engine_spark.operators.iterutil import Pins

    call()
    jobs = spark.sparkContext._jsc.sc().dagScheduler()
    owned, freed = [], []
    own, release_blocks = Pins._own, session_cache.release_blocks

    def recording_own(self, df, checkpointed):
        owned.append(df)
        return own(self, df, checkpointed)

    def recording_release(df):
        freed.append((df, jobs.numTotalJobs()))
        release_blocks(df)

    monkeypatch.setattr(Pins, "_own", recording_own)
    monkeypatch.setattr(session_cache, "release_blocks", recording_release)
    call()
    last = jobs.numTotalJobs()
    earlier = [n for df, n in freed if not any(df is o for o in owned)]
    assert earlier, "the first call's generation was never released"
    return sum(n < last for n in earlier)


def test_refresh_releases_previous_store_after_the_new_one(spark, monkeypatch):
    from ad_hoc_olap_query_processing_engine_spark.operators import pipeline

    call = lambda: pipeline.pipe_minhash_incremental(spark, SF_SMALL)  # noqa: E731
    assert _early_releases(spark, monkeypatch, call) == 0


def test_stream_releases_previous_store_after_the_last_fold(spark, monkeypatch):
    from ad_hoc_olap_query_processing_engine_spark.streaming import maintenance

    call = lambda: maintenance.stream_minhash_maintenance(spark, SF_SMALL)  # noqa: E731
    assert _early_releases(spark, monkeypatch, call) == 0
