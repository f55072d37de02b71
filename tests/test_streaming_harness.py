"""The stream harness in streaming/windows.py: ``stream_dir`` places stream
files under the process temp dir, and ``drain`` gives the session its confs
back even when the stream fails to start."""

from __future__ import annotations

import os
import tempfile

import pytest

from .conftest import SF_SMALL

PARTS = "spark.sql.shuffle.partitions"
RETAIN = "spark.sql.streaming.numRecentProgressUpdates"


def test_stream_dir_defaults_to_tmp(monkeypatch):
    from ad_hoc_olap_query_processing_engine_spark.streaming.windows import stream_dir

    for var in ("TMPDIR", "TEMP", "TMP"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", None)
    sf = "/root/testdata/sf0.01"
    assert stream_dir("spark_graft_stream", sf) == (
        "/tmp/spark_graft_stream/root_testdata_sf0.01"
    )
    assert stream_dir("spark_graft_stream_docs", sf) == (
        "/tmp/spark_graft_stream_docs/root_testdata_sf0.01"
    )


def test_stream_files_follow_the_temp_dir(spark, tmp_path, monkeypatch):
    from ad_hoc_olap_query_processing_engine_spark.streaming import maintenance
    from ad_hoc_olap_query_processing_engine_spark.streaming import windows

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sub = SF_SMALL.strip("/").replace("/", "_")
    windows._events_stream(spark, SF_SMALL)
    link = tmp_path / "spark_graft_stream" / sub / "events.parquet"
    assert os.readlink(link) == os.path.join(SF_SMALL, "events.parquet")
    out = maintenance._write_batches(spark, SF_SMALL)
    assert out == str(tmp_path / "spark_graft_stream_docs" / sub)
    assert sorted(os.listdir(out)) == [
        f"batch_{i}.parquet" for i in range(maintenance.N_STREAM_BATCHES)
    ]


def test_drain_restores_confs_when_start_raises(spark):
    from pyspark.errors import AnalysisException

    from ad_hoc_olap_query_processing_engine_spark.streaming.windows import (
        _events_stream,
        drain,
    )

    before = {k: spark.conf.get(k, None) for k in (PARTS, RETAIN)}
    # complete mode needs an aggregation: start() rejects this stream
    with pytest.raises(AnalysisException):
        drain(_events_stream(spark, SF_SMALL).select("user_id"), spark, "complete")
    assert {k: spark.conf.get(k, None) for k in (PARTS, RETAIN)} == before

