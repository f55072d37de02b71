"""The materialization module (operators/iterutil.py): fan-out, footer
reads and the ``Pins`` owner (byte sizing is pinned in test_round14_opt),
plus the Φ planner's use of an owner for its group-table persists."""

from __future__ import annotations

import time

import pytest

from ad_hoc_olap_query_processing_engine_spark.operators.iterutil import (
    Pins,
    disk_checkpoint,
    footer_rows,
    overlap,
)

from .conftest import SF_SMALL


def _stored_rdd_ids(spark) -> set[int]:
    """IDs of RDDs holding storage blocks (block-manager view: sees both
    cache-manager blocks and localCheckpoint blocks)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {infos[i].id() for i in range(len(infos))}


class TestOverlap:
    def test_results_in_argument_order(self):
        def after(delay: float, value: str):
            return lambda: (time.sleep(delay), value)[1]

        # the thunks finish in reverse order; the results must not
        assert overlap(after(0.3, "a"), after(0.15, "b"), after(0, "c")) == [
            "a",
            "b",
            "c",
        ]

    def test_first_error_in_argument_order_is_reraised(self):
        def fail(delay: float, msg: str):
            def thunk():
                time.sleep(delay)
                raise ValueError(msg)

            return thunk

        # the third thunk fails sooner, but the second comes first
        with pytest.raises(ValueError, match="second"):
            overlap(lambda: 1, fail(0.2, "second"), fail(0, "third"))


class TestFooterRows:
    def test_good_file(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path / "t.parquet"
        pq.write_table(pa.table({"x": list(range(7))}), path)
        assert footer_rows(str(path)) == 7

    def test_missing_file(self, tmp_path):
        assert footer_rows(str(tmp_path / "nope.parquet")) is None

    def test_corrupt_footer(self, tmp_path):
        path = tmp_path / "bad.parquet"
        path.write_bytes(b"PAR1garbagePAR1")
        assert footer_rows(str(path)) is None


class _FakeFrame:
    """Stands in for a DataFrame: counts persist/unpersist calls."""

    def __init__(self) -> None:
        self.unpersisted = 0

    def persist(self, level):
        return self

    def unpersist(self):
        self.unpersisted += 1


class TestPins:
    def test_concurrent_pin_and_release_frees_each_frame_once(self):
        """overlap thunks pin into one owner while another thread may
        release it; a lost update would leave a frame that is never freed,
        or free one twice."""
        import sys
        import threading

        pins = Pins()
        frames = [[_FakeFrame() for _ in range(2000)] for _ in range(8)]
        done = threading.Event()

        def pin_all(batch):
            for f in batch:
                pins.persist(f)

        def release_loop():
            while not done.is_set():
                pins.release()

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            releaser = threading.Thread(target=release_loop)
            releaser.start()
            pinners = [threading.Thread(target=pin_all, args=(b,)) for b in frames]
            for t in pinners:
                t.start()
            for t in pinners:
                t.join(timeout=60)
            done.set()
            releaser.join(timeout=60)
            assert not any(t.is_alive() for t in [releaser, *pinners])
        finally:
            sys.setswitchinterval(old)
        pins.release()
        assert all(f.unpersisted == 1 for b in frames for f in b)

    def test_release_frees_both_kinds_and_leaves_kept(self, spark):
        pins = Pins()
        ids0 = _stored_rdd_ids(spark)
        ck = pins.checkpoint(spark.range(100))
        ids1 = _stored_rdd_ids(spark)
        kept_ck = pins.checkpoint(spark.range(50))
        ids2 = _stored_rdd_ids(spark)
        ps = pins.persist(spark.range(30))
        ps.count()
        ids3 = _stored_rdd_ids(spark)
        kept_ps = pins.persist(spark.range(20))
        kept_ps.count()
        ids4 = _stored_rdd_ids(spark)
        ck_ids, kept_ck_ids = ids1 - ids0, ids2 - ids1
        ps_ids, kept_ps_ids = ids3 - ids2, ids4 - ids3
        assert ck_ids and kept_ck_ids and ps_ids and kept_ps_ids

        pins.release(kept_ck, kept_ps)
        after = _stored_rdd_ids(spark)
        assert not (ck_ids | ps_ids) & after
        assert kept_ck_ids | kept_ps_ids <= after
        assert not ps.storageLevel.useDisk and not ps.storageLevel.useMemory
        assert kept_ck.count() == 50 and kept_ps.count() == 20

        # the kept frames stay owned: a later release frees them too
        pins.release()
        assert not (kept_ck_ids | kept_ps_ids) & _stored_rdd_ids(spark)

    def test_persist_release_spares_a_checkpointed_input(self, spark):
        from ad_hoc_olap_query_processing_engine_spark.operators.session_cache import (
            release_blocks,
        )

        ids0 = _stored_rdd_ids(spark)
        base = disk_checkpoint(spark.range(100))  # owned by someone else
        base_ids = _stored_rdd_ids(spark) - ids0
        pins = Pins()
        top = pins.persist(base.selectExpr("id * 2 AS x"))
        top.count()
        pins.release()
        assert not top.storageLevel.useDisk and not top.storageLevel.useMemory
        assert base_ids <= _stored_rdd_ids(spark)
        assert base.count() == 100
        release_blocks(base)


def test_phi_reinvocation_holds_one_invocation_of_group_tables(spark):
    """Compiling Φ queries one after another in a session keeps only the
    latest call's group-table persists, and a frame from an earlier call
    still evaluates to the same rows."""
    from ad_hoc_olap_query_processing_engine_spark.phi import (
        all_phi_queries,
        compile_phi,
    )
    from ad_hoc_olap_query_processing_engine_spark.phi import planner
    from ad_hoc_olap_query_processing_engine_spark.sources import catalog

    qs = all_phi_queries()
    sales = catalog.sales_df(spark, SF_SMALL)

    def persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    planner._GROUP_PINS.release()  # drop what earlier tests compiled
    n0 = persisted()
    first = compile_phi(qs["phi_q2"], sales)
    # read through a derived frame: ``first`` itself first executes after
    # its group table is released, as a late re-read of an earlier result
    rows = sorted(first.select("*").collect())
    for _ in range(2):
        for name in ("phi_q2", "phi_q4", "phi_q6", "phi_q7", "phi_q10"):
            compile_phi(qs[name], sales).write.format("noop").mode(
                "overwrite"
            ).save()
            # at most the two group-table persists of one compile_phi call
            assert persisted() - n0 <= 2, name
    assert sorted(first.collect()) == rows
