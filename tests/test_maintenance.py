"""Streaming pair-store maintenance (streaming/maintenance.py): edge cases
of the stream drive."""

from __future__ import annotations

import pytest

from .conftest import SF_SMALL


def test_drive_without_batches_raises(spark, tmp_path, monkeypatch):
    """A drive that folds no micro-batch must fail clearly instead of
    returning the session-cached generation-0 frames as its result (the
    next invalidate of the result entry would release them)."""
    from ad_hoc_olap_query_processing_engine_spark.streaming import maintenance

    monkeypatch.setattr(maintenance, "_write_batches", lambda spark, sf: str(tmp_path))
    with pytest.raises(RuntimeError, match="no micro-batch folded"):
        maintenance.stream_minhash_maintenance(spark, SF_SMALL)
    # the g0 store is untouched and still readable
    assert maintenance._stream_empty_store(spark, SF_SMALL)["pairs"].count() == 0
