"""Streaming-adjacent sinks and gates: the transformWithState registration
gate and the pyjsonl sink's two-phase commit under a failing task."""

from __future__ import annotations


def test_tws_extremes_gated_on_protobuf(spark):
    """transformWithStateInPandas needs protobuf in the Python runner; the
    op registers only where that holds (and runs correctly when it does)."""
    import pytest

    from ad_hoc_olap_query_processing_engine_spark.operators import registry
    from ad_hoc_olap_query_processing_engine_spark.streaming import windows

    registered = "stream_tws_extremes" in registry.all_ops()
    assert registered == windows.tws_available()
    if not windows.tws_available():
        pytest.skip("protobuf absent: transformWithState runner unavailable")
    got = windows.stream_tws_extremes(spark, "/root/testdata/sf0.001")
    assert got.count() > 0


def test_pyjsonl_sink_failed_write_leaves_no_visible_output(spark):
    """Two-phase-commit fault injection: a task that throws mid-write must
    abort the job with NO _SUCCESS manifest and no committed part files —
    the half-written temp files of successful sibling tasks are cleaned by
    abort(). Readers keyed on the manifest never observe the failed write."""
    import os
    import tempfile

    import pytest
    from pyspark.sql import functions as F

    from ad_hoc_olap_query_processing_engine_spark.sources.pydatasource import (
        register_pyrowgroup,
    )

    register_pyrowgroup(spark)

    @F.udf("long")
    def boom(v):
        if v == 7:
            raise RuntimeError("injected task failure")
        return v

    df = spark.range(0, 10, 1, 4).select(boom(F.col("id")).alias("id"))
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "out")
        with pytest.raises(Exception, match="injected task failure"):
            df.write.format("pyjsonl").mode("overwrite").option("path", path).save()
        if os.path.isdir(path):
            files = os.listdir(path)
            assert "_SUCCESS" not in files
            assert not [f for f in files if f.startswith("part-")]
