"""Seeded generator of distinct Φ (MF/EMF) query specs over ``sales``.

The grammar follows the engine's property tests: random grouping sets,
one to three grouping variables whose such-that conditions are shaped to
reach each of the planner's five strategies (COND_AGG, WINDOW, FACT_WINDOW,
GROUP_JOIN, JOIN_AGG), σ-conditions, WHERE and HAVING trees.

Specs come in blocks of one spec led by each strategy.  The shape of every
spec (grouping set, number of grouping variables, whether it has WHERE and
HAVING) and the order of the stream depend only on the spec's position; the
seed picks the aggregate functions, comparison operators and literals.  So
every seed's stream has the same mix of plan shapes, and a timed prefix of
it costs about the same whatever the seed.  No spec text repeats within a
stream.
"""

from __future__ import annotations

import itertools
import random
from collections.abc import Iterator

STRATEGIES = ("cond_agg", "window", "fact_window", "group_join", "join")

FNS = ("sum", "avg", "min", "max", "count")
STATES = ("NY", "CT", "NJ", "NATION_3", "NATION_4")
YEARS = tuple(range(1995, 2002))
G0 = ("min_day", "avg_quant", "max_quant")

# grouping sets, smallest to largest: (year, month) has ~80 groups, while
# (cust, month) has one per customer and month.  GROUP_JOIN compares every
# group with every other, so it stays on the small sets: on (cust, month)
# the DuckDB check alone took 15 s per spec at sf 0.01.
V_BY_STRATEGY = {
    "cond_agg": (["year", "month"], ["prod", "month"], ["cust"], ["cust", "month"]),
    "window": (["year", "month"], ["prod", "month"], ["cust", "month"], ["prod", "year"]),
    "fact_window": (["year", "month"], ["prod", "month"], ["cust"], ["cust", "month"]),
    "group_join": (["year", "month"], ["prod", "month"]),
    "join": (["year", "month"], ["prod", "month"], ["cust"], ["cust", "month"]),
}


def _same(v: list[str], name: str) -> list[str]:
    return [f"{{MF.{g}.{name}}}[=]{{{g}}}" for g in v]


def _lead_conds(rng: random.Random, strategy: str, v: list[str], name: str,
                g0: str, prev: list[str]) -> list[str]:
    """Such-that conditions that make this GV take ``strategy``."""
    theta = rng.choice(["<", "<=", ">", ">="])
    if strategy == "cond_agg":
        return _same(v, name) + [f"{{state}}[=]{{{rng.choice(STATES)}}}"]
    if strategy == "window":
        if "month" in v:
            return [f"{{MF.month.{name}}}[{theta}]{{month}}"] + [
                c for c in _same(v, name) if "{MF.month." not in c
            ]
        return [f"{{MF.{v[0]}.{name}}}[=]{{{v[0]}}}"]  # subset of V
    if strategy == "fact_window":
        op = rng.choice(["<", "<=", ">", ">=", "!="])
        return _same(v, name) + [f"{{MF.{g0}.{name}}}[{op}]{{quant}}"]
    if strategy == "group_join":
        if v == ["year", "month"]:
            op2 = rng.choice(["<", "<=", ">", ">="])
            return [f"{{MF.year.{name}}}[{theta}]{{year}}",
                    f"{{MF.month.{name}}}[{op2}]{{month}}"]
        other = next(g for g in v if g != "month")
        return [f"{{MF.month.{name}}}[{theta}]{{month}}",
                f"{{MF.{other}.{name}}}[!=]{{{other}}}"]
    # join: a dependent aggregate (an earlier GV's value), or with none yet a
    # tuple column compared against a different grouping attribute
    if prev:
        return _same(v, name) + [f"{{MF.{rng.choice(prev)}.{name}}}[<]{{quant}}"]
    if "month" in v:
        return [c for c in _same(v, name) if "{MF.month." not in c] + [
            f"{{MF.month.{name}}}[{rng.choice(['<', '>='])}]{{day}}"
        ]
    return _same(v, name) + [f"{{MF.{g0}.{name}}}[<]{{quant}}",
                             f"{{MF.{v[0]}.{name}}}[!=]{{{v[0]}}}"]


def make_spec(rng: random.Random, strategy: str, block: int) -> str:
    """One spec whose last grouping variable takes ``strategy``; the earlier
    ones (if any) are plain conditional aggregates.  ``block`` fixes the
    shape, ``rng`` the functions, operators and literals."""
    choices = V_BY_STRATEGY[strategy]
    v = list(choices[block % len(choices)])
    g0 = G0[block % len(G0)]
    n = 1 + block % 3 if strategy != "join" else 2 + block % 2
    names, slots = [], []
    for i in range(1, n + 1):
        name = f"{rng.choice(FNS)}_quant_{i}"
        if i < n:
            conds = _same(v, name)
            if (block + i) % 2:
                conds.append(f"{{quant}}[>]{{{rng.randint(0, 40)}}}")
            else:
                conds.append(f"{{state}}[=]{{{rng.choice(STATES)}}}")
        else:
            conds = _lead_conds(rng, strategy, v, name, g0, names)
        names.append(name)
        slots.append(":".join(conds))
    if block % 2:
        slots.append(f"{{year}}[==]{{{rng.choice(YEARS)}}}")
    lines = [",".join(v + [g0] + names), str(n), ",".join(v), ",".join(names),
             ",".join(slots)]
    if block % 3 == 1:
        leaves = [f"{{MF.{rng.choice(names)},{rng.choice(['>', '>=', '<'])},"
                  f"{rng.randint(0, 30)}}}" for _ in range(1 + block % 2)]
        line = leaves[0]
        for leaf in leaves[1:]:
            line += f" {rng.choice(['[&&]', '[||]'])} {leaf}"
        lines.append(line)
    return "\n".join(lines)


def spec_stream(seed: int) -> Iterator[tuple[str, str]]:
    """Endless stream of (strategy, spec text), distinct within the stream."""
    rng = random.Random(seed)
    seen: set[str] = set()
    for block in itertools.count():
        for strategy in STRATEGIES:
            while True:
                spec = make_spec(rng, strategy, block)
                if spec not in seen:
                    seen.add(spec)
                    yield strategy, spec
                    break
