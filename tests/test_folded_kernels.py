"""The registered queries that call a kernel shared with a sibling query
(one definition per kernel, guarded by test_no_copied_kernels.py) match
their DuckDB oracle exactly.  pipe_cc_incremental and
stream_minhash_maintenance are left out: test_round13_ops.py pins them to
dedup_cluster_cc and dedup_minhash_lsh, which are checked here."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

from .conftest import SF_SMALL, assert_frames_match

FOLDED = [
    "rel_asof_tolerance",
    "rel_asof_nearest",
    "rel_window_suite",
    "rel_window_dist",
    "rel_funnel",
    "rel_funnel_window",
    "stream_stream_join",
    "stream_stream_outer",
    "text_line_dedup",
    "text_selfline_dedup",
    "sim_sq_ann",
    "sim_pq_ann",
    "sim_ivfpq_ann",
    "sim_mmr_topk",
    "embed_matryoshka_eval",
    "dedup_minhash_lsh",
    "dedup_cluster_cc",
    "dedup_lsh_recall_report",
    "pipe_minhash_incremental",
    "sim_recall_report",
]


@pytest.mark.parametrize("name", FOLDED)
def test_folded_query_matches_oracle(spark, duck, name):
    exp = duck(SF_SMALL).sql(entry.oracle_sql()[name]).fetchdf()
    assert len(exp) > 0, f"{name} has no rows at {SF_SMALL}"
    got = entry.queries()[name](spark, SF_SMALL).toPandas()
    assert_frames_match(got, exp)
