"""Re-invocation: a query called twice in one session gives the same
answer, and its second call holds no more persistent RDDs than its first
(the first call's checkpoints go with its generation).  The whole registry
runs in ``scripts/reinvoke.py``, not here."""

from __future__ import annotations

import pytest

from .conftest import SF_SMALL


def _persistent(spark) -> set[int]:
    """IDs of the session's persistent RDDs.  Tests count only the ones
    created since their own start, so RDDs left by earlier tests and
    collected at any point do not move the numbers."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize(
    "name",
    [
        "graph_bfs_layers",
        "graph_kcore",
        "rel_basket_affinity",
        "rel_hierarchy_rollup",
        "text_bpe_merges",
    ],
)
def test_second_call_same_rows_and_no_more_rdds(spark, name):
    import __spark_entry__ as E

    run = E.queries()[name]
    ids0 = _persistent(spark)
    first = run(spark, SF_SMALL)  # kept, as a caller that reads it later would
    rows = sorted(first.collect())
    n1 = len(_persistent(spark) - ids0)
    second = run(spark, SF_SMALL)
    assert sorted(second.collect()) == rows
    assert len(_persistent(spark) - ids0) <= n1


def test_connected_components_leaves_only_its_labels(spark):
    """A 120-node path: the loop's pair checkpoint, edge persist and
    per-round labels, frontiers and offers are freed on exit; releasing
    the returned labels leaves nothing the run created."""
    from pyspark.sql import functions as F

    from ad_hoc_olap_query_processing_engine_spark.operators.dedup import (
        connected_components,
    )
    from ad_hoc_olap_query_processing_engine_spark.operators.session_cache import (
        release_blocks,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "doc_a long, doc_b long"
    )
    ids0 = _persistent(spark)
    labels = connected_components(pairs)
    assert labels.agg(F.max("cluster_id"), F.count("*")).first() == (0, 120)
    release_blocks(labels)
    assert not _persistent(spark) - ids0
