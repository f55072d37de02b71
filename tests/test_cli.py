"""CLI smoke: the query-file front end end-to-end in a subprocess
(reference-format output, --table targeting, error paths)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

SPEC_SALES = """\
cust,avg_quant_NY
1
cust
avg_quant_NY
{MF.cust.avg_quant_NY}[=]{cust}:{state}[=]{NY}
"""

SPEC_EVENTS = """\
event_type,count_value_hi
1
event_type
count_value_hi
{value}[>]{90}
"""


def _run(args: list[str]) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "ad_hoc_olap_query_processing_engine_spark.cli", *args],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=Path(__file__).resolve().parents[1],  # this checkout's own package
    )


def test_cli_sales_and_events_table(tmp_path):
    sales_spec = tmp_path / "sales_spec.txt"
    sales_spec.write_text(SPEC_SALES)
    events_spec = tmp_path / "events_spec.txt"
    events_spec.write_text(SPEC_EVENTS)

    r = _run(
        [str(sales_spec), "--sf-dir", "/root/testdata/sf0.001", "--limit", "3", "--cpus", "4"]
    )
    assert r.returncode == 0, r.stderr[-800:]
    assert "Total Records : 3" in r.stdout and "avg_quant_NY" in r.stdout

    r = _run(
        [
            str(events_spec),
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--table",
            "events",
            "--cpus",
            "4",
        ]
    )
    assert r.returncode == 0, r.stderr[-800:]
    assert "count_value_hi" in r.stdout and "Total Records : 5" in r.stdout


def test_cli_malformed_spec_fails_loudly(tmp_path):
    bad = tmp_path / "bad.txt"
    bad.write_text("just,one,line\n")
    r = _run([str(bad), "--sf-dir", "/root/testdata/sf0.001", "--cpus", "4"])
    assert r.returncode != 0
    assert "PhiParseError" in r.stderr or "expected 5 or 6 lines" in r.stderr


GOLDEN_SPEC = """\
cust,avg_quant,avg_quant_NY
1
cust
avg_quant_NY
{MF.cust.avg_quant_NY}[=]{cust}:{state}[=]{NY}
"""


def test_cli_output_matches_golden_file(tmp_path):
    """Golden-file pin of the reference-parity output format (%-18s columns,
    separator, 'Total Records : N' footer) and of every formatted value.
    Row ORDER is not part of the contract (the reference prints hash-map
    order; we print partition order), so data lines compare as sorted sets."""
    spec = tmp_path / "spec.txt"
    spec.write_text(GOLDEN_SPEC)
    r = _run([str(spec), "--sf-dir", "/root/testdata/sf0.001", "--cpus", "4"])
    assert r.returncode == 0, r.stderr[-800:]
    got = r.stdout.splitlines()
    golden = open("tests/golden/cli_phi_ny.txt").read().splitlines()
    assert got[:3] == golden[:3]          # banner + header + separator
    assert got[-2:] == golden[-2:]        # blank + Total Records footer
    assert sorted(got[3:-2]) == golden[3:-2]  # all formatted rows
