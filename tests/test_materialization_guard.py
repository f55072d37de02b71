"""Guard: one way to materialize.  Thread-pool fan-out, eager DISK_ONLY
checkpoints and parquet-footer reads live in operators/iterutil.py; a
hand-rolled copy anywhere else in the package fails here.  Source scan
only — no Spark."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "ad_hoc_olap_query_processing_engine_spark"

# (rule, pattern, files allowed to match).  warmup.py keeps its own pool:
# it is capped at 4 workers and cost-ordered, a different policy.
MODULE = "operators/iterutil.py"
RULES = [
    ("thread pool", r"ThreadPoolExecutor\(", {MODULE, "operators/warmup.py"}),
    ("DISK_ONLY localCheckpoint", r"localCheckpoint\([^)]*DISK_ONLY", {MODULE}),
    ("parquet footer read", r"ParquetFile\([^)]*\)\.metadata", {MODULE}),
    ("group-table persist knob", r"PERSIST_GROUP_TABLE", set()),
]


def _sources() -> dict[str, str]:
    return {
        p.relative_to(PKG).as_posix(): p.read_text(encoding="utf-8")
        for p in sorted(PKG.rglob("*.py"))
    }


@pytest.mark.parametrize("rule,pattern,allowed", RULES, ids=[r[0] for r in RULES])
def test_no_hand_rolled_copy(rule, pattern, allowed):
    rx = re.compile(pattern, re.S)
    offenders = [
        name
        for name, text in _sources().items()
        if name not in allowed and rx.search(text)
    ]
    assert not offenders, f"{rule} outside {sorted(allowed) or 'nowhere'}: {offenders}"


def test_guard_sees_the_module():
    """The patterns match the one sanctioned copy, so a rename cannot turn
    the guard into a no-op."""
    src = _sources()[MODULE]
    for rule, pattern, allowed in RULES:
        if allowed:
            assert re.search(pattern, src, re.S), rule
