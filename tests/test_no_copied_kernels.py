"""Guard: one definition per kernel.  Sibling queries call a shared kernel
and keep only their own projection; a run of 8 consecutive code lines that
appears at two places in the package fails here.  Source scan only — no
Spark.

A line is normalized by stripping it and collapsing its whitespace.  Blank
lines, ``#`` lines, ``import``/``from`` lines and every line of a string
literal spanning several lines (docstrings, the oracle SQL) are dropped
before the windows are compared."""

from __future__ import annotations

import io
import re
import tokenize
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "ad_hoc_olap_query_processing_engine_spark"
WINDOW = 8


def code_lines(text: str) -> list[tuple[int, str]]:
    """(line number, normalized line) for every line the scan compares."""
    in_string: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type == tokenize.STRING and tok.end[0] > tok.start[0]:
            in_string.update(range(tok.start[0], tok.end[0] + 1))
    kept = []
    for no, raw in enumerate(text.splitlines(), 1):
        line = " ".join(raw.split())
        if (
            not line
            or no in in_string
            or line.startswith("#")
            or re.match(r"(import|from)\s", line)
        ):
            continue
        kept.append((no, line))
    return kept


def copied_runs(sources: dict[str, str]) -> list[str]:
    """One entry per maximal run of windows seen at two or more places."""
    seen: dict[tuple[str, ...], list[tuple[str, int, int]]] = {}
    for name, text in sources.items():
        lines = code_lines(text)
        for i in range(len(lines) - WINDOW + 1):
            key = tuple(line for _, line in lines[i : i + WINDOW])
            seen.setdefault(key, []).append((name, i, lines[i][0]))
    dup = {
        (name, i): places
        for places in seen.values()
        if len(places) > 1
        for name, i, _ in places
    }
    return sorted(
        {
            ", ".join(f"{n}:{ln}" for n, _, ln in places)
            for (name, i), places in dup.items()
            if (name, i - 1) not in dup  # the first window of a run
        }
    )


def _sources() -> dict[str, str]:
    return {
        p.relative_to(PKG).as_posix(): p.read_text(encoding="utf-8")
        for p in sorted(PKG.rglob("*.py"))
    }


def test_no_copied_kernel():
    runs = copied_runs(_sources())
    assert not runs, (
        f"{len(runs)} copied {WINDOW}-line run(s); give each kernel one "
        "definition and call it:\n  " + "\n  ".join(runs)
    )


def test_guard_sees_a_copy():
    """The scan flags a copied run and ignores copied docstrings, comments
    and imports, so a rule change cannot turn the guard into a no-op."""
    body = "".join(f"    x{i} = f(x{i - 1})\n" for i in range(1, WINDOW + 1))
    doc = '    """\n' + "".join(f"    SELECT {i}\n" for i in range(WINDOW)) + '    """\n'
    noise = "".join(f"    # note {i}\nimport m{i}\n" for i in range(WINDOW))
    src = {
        "a.py": "def a(x0):\n" + doc + noise + body,
        "b.py": "def b(x0):\n" + doc + noise + "    y = 1\n" + body,
    }
    assert copied_runs(src) == ["a.py:28, b.py:29"]
    src["b.py"] = "def b(x0):\n" + doc + noise
    assert copied_runs(src) == []
