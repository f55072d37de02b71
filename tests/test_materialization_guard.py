"""Guard: one way to materialize and one stream harness.  Thread-pool
fan-out, every ``localCheckpoint`` call, parquet-footer reads and
module-level ``Pins`` owners live in operators/iterutil.py; cache invalidation in
operators/session_cache.py; memory-sink drains and one-file-per-trigger readers
in streaming/windows.py; session-conf unsets in session.py (scoped_conf);
no path is rooted at a literal /tmp.  A hand-rolled copy anywhere else in
the package fails here.  Source scan only — no Spark."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "ad_hoc_olap_query_processing_engine_spark"

# (rule, pattern, files allowed to match).  warmup.py keeps its own pool:
# it is capped at 4 workers and cost-ordered, a different policy.
MODULE = "operators/iterutil.py"
STREAM = "streaming/windows.py"
RULES = [
    ("thread pool", r"ThreadPoolExecutor\(", {MODULE, "operators/warmup.py"}),
    ("DISK_ONLY localCheckpoint", r"localCheckpoint\([^)]*DISK_ONLY", {MODULE}),
    # a checkpoint is taken through iterutil.checkpoint / Pins.checkpoint,
    # so each one has an owner (a generation, the session cache or a loop)
    ("localCheckpoint call", r"localCheckpoint\(", {MODULE}),
    ("parquet footer read", r"ParquetFile\([^)]*\)\.metadata", {MODULE}),
    ("group-table persist knob", r"PERSIST_GROUP_TABLE", set()),
    ("memory-sink drain", r"format\(\s*[\"']memory[\"']\s*\)", {STREAM}),
    ("one-file-per-trigger reader", r"maxFilesPerTrigger", {STREAM}),
    ("session-conf unset", r"conf\.unset\(", {"session.py"}),
    ("literal /tmp path", r"[\"']/tmp", set()),
    # per-call state has one owner (iterutil.generation), and the session
    # cache is never used as one
    (
        "module-level Pins owner",
        r"(?m)^\w+\s*(?::[^=\n]*)?=\s*(?:defaultdict\()?Pins\b",
        {MODULE},
    ),
    ("session-cache invalidate", r"\binvalidate\(", {"operators/session_cache.py"}),
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
        f"{name}:{text.count(chr(10), 0, m.start()) + 1}"
        for name, text in _sources().items()
        if name not in allowed
        for m in rx.finditer(text)
    ]
    assert not offenders, f"{rule} outside {sorted(allowed) or 'nowhere'}: {offenders}"


def test_guard_sees_the_module():
    """Each pattern matches every sanctioned copy in its own home file, so
    a rename cannot turn the guard into a no-op."""
    src = _sources()
    for rule, pattern, allowed in RULES:
        for home in sorted(allowed):
            assert re.search(pattern, src[home], re.S), (rule, home)
