"""``session.scoped_conf``: one save/restore rule for session-conf
overrides, on normal exit and on a raised exception."""

from __future__ import annotations

import pytest

from ad_hoc_olap_query_processing_engine_spark.session import scoped_conf

KEY = "spark.graft.test.unregistered"


def test_scoped_conf_unsets_a_key_that_had_no_value(spark):
    assert spark.conf.get(KEY, None) is None
    with scoped_conf(spark, {KEY: "on"}):
        assert spark.conf.get(KEY) == "on"
    assert spark.conf.get(KEY, None) is None


def test_scoped_conf_restores_on_exception(spark):
    spark.conf.set(KEY, "prior")
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with scoped_conf(spark, {KEY: "on"}):
                assert spark.conf.get(KEY) == "on"
                raise RuntimeError("boom")
        assert spark.conf.get(KEY) == "prior"
    finally:
        spark.conf.unset(KEY)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {KEY: "on"}):
            raise RuntimeError("boom")
    assert spark.conf.get(KEY, None) is None
