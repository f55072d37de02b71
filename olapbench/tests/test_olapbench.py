"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest olapbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import phigen  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402
from ad_hoc_olap_query_processing_engine_spark.phi import parse_query, phi_to_sql  # noqa: E402
from ad_hoc_olap_query_processing_engine_spark.phi.planner import classify_gv  # noqa: E402
from ad_hoc_olap_query_processing_engine_spark.sources import catalog  # noqa: E402

COLS = set(catalog.SALES_COLUMNS)
DTYPES = {"cust": "string", "prod": "string", "day": "int", "month": "int",
          "year": "int", "state": "string", "quant": "int"}


def _specs(seed: int, n: int) -> list[tuple[str, str]]:
    return list(itertools.islice(phigen.spec_stream(seed), n))


def test_phi_generator_is_deterministic_per_seed():
    assert _specs(3, 40) == _specs(3, 40)
    assert _specs(3, 40) != _specs(4, 40)


def test_phi_specs_are_distinct_parse_and_render():
    specs = _specs(0, 200)
    assert len({text for _, text in specs}) == len(specs)
    for _, text in specs:
        q = parse_query(text.splitlines(), known_cols=COLS)
        assert "SELECT" in phi_to_sql(q, relation_sql=catalog.SALES_VIEW_SQL)


def test_phi_generator_reaches_all_five_strategies():
    led = set()
    for strategy, text in _specs(0, 25):
        q = parse_query(text.splitlines(), known_cols=COLS)
        g0 = frozenset(a.name for a in q.group0)
        got = classify_gv(q.gvs[-1], q.group_attrs, DTYPES, g0).strategy
        assert got == strategy, text
        led.add(got)
    assert led == set(phigen.STRATEGIES)


def test_datagen_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    datagen.generate(a, 5, 0.0005)
    datagen.generate(b, 5, 0.0005)
    datagen.generate(c, 6, 0.0005)
    for name in datagen.TABLES:
        ta = pq.read_table(os.path.join(a, f"{name}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{name}.parquet")))
    assert not pq.read_table(os.path.join(a, "lineitem.parquet")).equals(
        pq.read_table(os.path.join(c, "lineitem.parquet")))
    assert set(datagen.TABLES) == set(catalog.TABLES)


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert run.END_TO_END_UNITS == declared_e2e
    assert run.per_layer_units() == declared_layer
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_tail_percentile_keeps_five_samples_beyond_it():
    assert run.tail_pct(8) == 50
    assert run.tail_pct(15) == 66
    assert run.tail_pct(20) == 75
    assert run.tail_pct(200) == 97


def test_percentile_is_the_harrell_davis_estimate():
    assert abs(run.beta_cdf(2, 3, 0.4) - 0.5248) < 1e-12
    assert run.percentile([5.0], 50) == 5.0
    assert abs(run.percentile([1.0, 2.0, 3.0], 50) - 2.0) < 1e-12
    # a gap at the middle: the order-statistic median sits on one side of it,
    # the estimate between the two sides
    xs = [1.0] * 11 + [2.0] * 12
    assert 1.0 < run.percentile(xs, 50) < 2.0
    assert run.percentile(xs, 50) < run.percentile(xs, run.tail_pct(len(xs))) < 2.0


def test_operator_modules_are_those_of_the_first_two_family_rounds():
    from ad_hoc_olap_query_processing_engine_spark.operators import registry
    from workloads import family_panel

    ops = registry.all_ops()
    reached = {ops[name].run.__module__.rsplit(".", 1)[-1]
               for names in family_panel()[:2] for name in names}
    assert reached == set(run.OPERATOR_MODULES)
