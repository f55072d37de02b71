"""Phi → Spark DataFrame compiler.

The reference evaluates an n-GV query with 1 + n full scans of an in-heap
table and an O(|sales| × |groups|) nested loop per grouping variable
(reference: src/QueryProcessor1.java:113-172 scan 0, :200-302 GV scans). We
compile the same semantics to a declarative DataFrame plan and let Catalyst /
Tungsten / AQE pick physical strategies. Per grouping variable, the planner
picks the cheapest of five strategies (SURVEY.md §2.2 compilation rules):

COND_AGG   MF-predicates are same-group equalities covering every grouping
           attribute (incl. the implicit synthesis of reference
           QueryProcessor1.java:216-226). Compiles to a conditional aggregate
           ``fn(CASE WHEN σ THEN src END)`` *fused into the single scan-0
           groupBy* — all such GVs plus group-0 cost ONE shuffle total. This
           is the MF "shared scan" idea done one better (the reference still
           re-scans per GV).

WINDOW     MF-predicates are equalities on a subset S of the grouping
           attributes plus at most one θ (<,>,<=,>=) or one anti (!=)
           condition comparing a grouping attribute with the tuple's same
           attribute. Scan 0 additionally emits per-group partial aggregates
           (sum/count/min/max of the GV's σ-matching tuples); the GV is then a
           window over the *group table* (|G| rows, tiny vs |sales|):
             - superset (no θ):   total over Window.partitionBy(S)
             - θ:                 range frame over partitionBy(S).orderBy(m)
             - anti (!=a):        partitionBy(S) total MINUS partitionBy(S+[a])
                                  total (subtracts exactly the tuples sharing
                                  the group's ``a`` value — correct for any
                                  extra grouping attributes)
           avg is computed as Σpartial_sum / Σpartial_count — tuple-weighted,
           never avg-of-avgs. No second pass over sales at all.

FACT_WINDOW Tuple-level conditions against the anchor group's group-0
           aggregates, pinned to the tuple's own group by equalities on
           every grouping attribute (the textbook below-own-average count):
           the group-0 value attaches to each fact row via a partitionBy(V)
           window sharing the scan-0 shuffle — one fact pass, one exchange,
           no join back against sales.

GROUP_JOIN Simple GVs the WINDOW frames can't encode — two θ conditions on
           distinct attributes, θ+anti mixes, strict θ on non-integral
           attributes, min/max with anti, and GROUP-LEVEL conditions whose
           tuple-side operands are all grouping attributes (including
           comparisons against the anchor group's group-0 aggregates,
           ``{MF.avg_quant.X}[>]{month}`` style) — still never touch sales
           again:
           scan 0 emits the same partials as WINDOW, and the aggregate is a
           θ-self-join *of the group table* (|G| ⋈ |G|, both sides tiny)
           re-aggregated per group. Same single-fact-scan guarantee as
           WINDOW, one extra group-table-sized join.

JOIN_AGG   Fully general fallback (MF-field vs MF-field, literals, and
           dependent aggregates — reference O10):
           base ⋈ group-table on the MF-predicates, σ, groupBy(V), agg, then
           left-join the result back onto the group table. Dependent GVs
           (predicates referencing earlier GVs' aggregates, e.g. golden query
           6) force these stages to run in GV index order against the
           accumulating group table.

Null policy (SURVEY.md §2.4 B4): a group with no matching tuples yields NULL
for sum/avg/min/max (SQL semantics) and 0 for count — matching the generated
oracle SQL (phi/sqlgen.py), not the reference's 0-sentinels.

At 100 TB: scan 0 is one map-side-combined hash aggregation over the fact
table (Catalyst pushes the WHERE into the parquet scan); windows and the
join-back operate on the group table, which is orders of magnitude smaller;
pure-θ join stages broadcast the group side explicitly so Catalyst never
falls back to a shuffled nested-loop join.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.iterutil import Pins, generation
from .ast import Cond, GroupingVar, Having, Operand, PhiQuery

_PYOPS = {
    "==": operator.eq,
    "!=": operator.ne,
    "<": operator.lt,
    ">": operator.gt,
    "<=": operator.le,
    ">=": operator.ge,
}

_AGG_FNS = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max, "count": F.count}

_THETA_FRAMES = {
    "<": (W.unboundedPreceding, -1),
    "<=": (W.unboundedPreceding, 0),
    ">": (1, W.unboundedFollowing),
    ">=": (0, W.unboundedFollowing),
}


class PhiPlanError(ValueError):
    pass


@dataclass
class _GVPlan:
    gv: GroupingVar
    strategy: str  # "cond_agg" | "window" | "fact_window" | "group_join" | "join"
    eq_attrs: list[str] = field(default_factory=list)  # window/gj: equalities
    theta: tuple[str, str] | None = None  # window: (attr, op) range condition
    anti_attr: str | None = None  # window: != attribute
    thetas: list[tuple[str, str]] = field(default_factory=list)  # group_join
    anti_attrs: list[str] = field(default_factory=list)  # group_join
    # group_join: generic group-level conditions — every tuple-side operand is
    # a grouping attribute (so membership depends on tuples only through
    # their group identity) and MF-side operands may reference group-0
    # aggregates; evaluated between the other group's attrs (o) and the
    # anchor group's fields (g).
    gconds: list[Cond] = field(default_factory=list)
    # fact_window: tuple-level conditions pinned to the tuple's OWN group
    # (same-group equalities on every grouping attribute), whose MF-side
    # operands are grouping attrs or group-0 aggregates — evaluated per fact
    # row with the group-0 values attached by a partitionBy(V) window.
    rowconds: list[Cond] = field(default_factory=list)


# ---------------------------------------------------------------------------
# classification
# ---------------------------------------------------------------------------


# rangeBetween(±1) offsets encode strict </> only when the ordering value is
# integral (gap ≥ 1); a double 1.5 < 2.0 lies inside (2.0-1, 2.0] and would be
# wrongly excluded, and non-numeric types can't do offset arithmetic at all.
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def classify_gv(
    gv: GroupingVar,
    group_attrs: list[str],
    dtypes: dict[str, str] | None = None,
    g0_names: frozenset[str] | set[str] = frozenset(),
) -> _GVPlan:
    """Pick the cheapest correct strategy for one grouping variable.

    ``dtypes`` (column → Spark simpleString type, from ``dict(df.dtypes)``)
    gates the θ-WINDOW strategy: strict </> compiles to a ±1 range frame,
    which is only correct for integral ordering attributes — anything else
    takes the GROUP_JOIN strategy (still one fact scan, θ-join on the group
    table). ``g0_names`` are the group-0 aggregate aliases: conditions
    comparing a grouping attribute against the anchor group's group-0
    aggregate (``{MF.avg_quant.X}[>]{month}`` style) are GROUP-LEVEL —
    membership depends on tuples only through their group identity — so they
    also take GROUP_JOIN (one fact scan) instead of re-joining sales.
    Tuple-level conditions (a non-grouping tuple column vs an MF field, e.g.
    the textbook ``{MF.avg_quant.X}[<]{quant}`` below-own-average count) take
    FACT_WINDOW when the GV is pinned to the tuple's own group by equalities
    on every grouping attribute: group-0 values attach to each fact row via
    a partitionBy(V) window in the same shuffle as the scan-0 groupBy —
    still one fact pass. Only an unpinned tuple-level condition or a
    reference to an earlier GV's aggregate falls back to the fully general
    staged JOIN_AGG (the genuinely dependent case)."""
    eq_attrs: list[str] = []
    thetas: list[tuple[str, str]] = []
    anti_attrs: list[str] = []
    gconds: list[Cond] = []
    rowconds: list[Cond] = []
    for c in gv.mf_conds:
        dep = any(
            o.kind == "mf" and o.name not in group_attrs and o.name not in g0_names
            for o in (c.left, c.right)
        )
        if dep:
            return _GVPlan(gv=gv, strategy="join")
        same_attr = (
            c.right.kind == "mf"
            and c.left.kind == "col"
            and c.left.name == c.right.name
            and c.right.name in group_attrs
        )
        if not same_attr:
            tuple_cols = [o for o in (c.left, c.right) if o.kind == "col"]
            if all(o.name in group_attrs for o in tuple_cols):
                gconds.append(c)
                continue
            rowconds.append(c)
            continue
        if c.op == "==":
            eq_attrs.append(c.right.name)
        elif c.op == "!=":
            anti_attrs.append(c.right.name)
        else:
            thetas.append((c.right.name, c.op))
    if rowconds:
        if set(eq_attrs) == set(group_attrs) and not thetas and not anti_attrs:
            # pinned to its own group: the anchor's grouping attrs are the
            # row's own columns and its group-0 aggregates are window values,
            # so group-level conds fold into the same per-row guard
            return _GVPlan(
                gv=gv,
                strategy="fact_window",
                eq_attrs=eq_attrs,
                rowconds=rowconds + gconds,
            )
        return _GVPlan(gv=gv, strategy="join")
    if gconds:
        return _GVPlan(
            gv=gv,
            strategy="group_join",
            eq_attrs=eq_attrs,
            thetas=thetas,
            anti_attrs=anti_attrs,
            gconds=gconds,
        )
    if not thetas and not anti_attrs and set(eq_attrs) == set(group_attrs):
        return _GVPlan(gv=gv, strategy="cond_agg", eq_attrs=eq_attrs)
    window_ok = len(thetas) + len(anti_attrs) <= 1
    if thetas and window_ok:
        attr, op = thetas[0]
        if op in ("<", ">") and dtypes is not None and dtypes.get(attr) not in _INTEGRAL_TYPES:
            window_ok = False
    if anti_attrs and gv.agg.fn in ("min", "max"):
        # min/max don't decompose under the WINDOW complement subtraction
        # (but DO decompose under GROUP_JOIN's direct partial re-aggregation).
        window_ok = False
    if window_ok:
        return _GVPlan(
            gv=gv,
            strategy="window",
            eq_attrs=eq_attrs,
            theta=thetas[0] if thetas else None,
            anti_attr=anti_attrs[0] if anti_attrs else None,
        )
    return _GVPlan(
        gv=gv,
        strategy="group_join",
        eq_attrs=eq_attrs,
        thetas=thetas,
        anti_attrs=anti_attrs,
    )


# ---------------------------------------------------------------------------
# expression translation
# ---------------------------------------------------------------------------


def _tuple_operand(o: Operand) -> Column:
    if o.kind == "col":
        return F.col(o.name)
    if o.kind == "lit":
        return F.lit(o.value)
    raise PhiPlanError(f"MF operand {o!r} not valid in a tuple-side expression")


def _tuple_cond(c: Cond) -> Column:
    return _PYOPS[c.op](_tuple_operand(c.left), _tuple_operand(c.right))


def _and_all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _sigma(conds: list[Cond]) -> Column | None:
    return _and_all([_tuple_cond(c) for c in conds]) if conds else None


def _join_back(
    groups: DataFrame, res: DataFrame, keys: list[str], tag: str = "__r_"
) -> DataFrame:
    """Left-join per-key results ``res`` back onto every group row, null-safe
    on the keys so NULL-keyed groups receive theirs (GROUP BY and window
    partitions treat NULL as a value; a plain equi-join would drop it).
    ``res``'s key columns are renamed ``<tag><key>`` for the join and
    dropped after it."""
    for k in keys:
        res = res.withColumnRenamed(k, f"{tag}{k}")
    cond = _and_all([F.col(k).eqNullSafe(F.col(f"{tag}{k}")) for k in keys])
    return groups.join(res, cond, "left").drop(*[f"{tag}{k}" for k in keys])


def _reagg_join(groups: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """groupBy(keys) over the group table and join the totals back onto every
    row — the unordered-window replacement. Empty key set = global totals
    (one row, cross join)."""
    if not keys:
        return groups.crossJoin(F.broadcast(groups.groupBy().agg(*aggs)))
    return _join_back(groups, groups.groupBy(*keys).agg(*aggs), keys, "__k_")


def _finish(fn: str, cnt: Column, tot: Column) -> Column:
    """A count/sum/avg GV from its summed partial count ``cnt`` and sum
    ``tot``: count 0 and sum/avg NULL over no tuples; avg is tuple-weighted
    (Σsums / Σcounts), never an avg of avgs."""
    if fn == "count":
        return F.coalesce(cnt, F.lit(0))
    if fn == "sum":
        return F.when(cnt > 0, tot)
    return F.when(cnt > 0, tot / cnt)


def _memb(left: Column, op: str, right: Column) -> Column:
    """The membership rule: (in)equality is null-safe, like the oracle's IS
    [NOT] DISTINCT FROM (GROUP BY forms a NULL-key group in both engines; a
    tuple with a NULL key belongs to that group, and to every other group's
    complement); θ comparisons are plain SQL (NULL → excluded)."""
    if op == "==":
        return left.eqNullSafe(right)
    if op == "!=":
        return ~left.eqNullSafe(right)
    return _PYOPS[op](left, right)


def _agg_expr(fn: str, src: str, guard: Column | None, alias: str) -> Column:
    """fn over tuples passing ``guard`` (conditional aggregation)."""
    if fn == "count":
        src_col = F.lit(1) if guard is None else F.when(guard, F.lit(1))
        return F.count(src_col).alias(alias)
    src_col = F.col(src) if guard is None else F.when(guard, F.col(src))
    return _AGG_FNS[fn](src_col).alias(alias)


def _rowcond_operand(o: Operand, g0_names: frozenset[str] | set[str]) -> Column:
    """FACT_WINDOW per-row translation: the GV is pinned to the tuple's own
    group, so an MF grouping attr is the row's own column and an MF group-0
    aggregate is its windowed value (``__g0w_<name>``)."""
    if o.kind == "lit":
        return F.lit(o.value)
    if o.kind == "mf" and o.name in g0_names:
        return F.col(f"__g0w_{o.name}")
    return F.col(o.name)


# ---------------------------------------------------------------------------
# compilation
# ---------------------------------------------------------------------------


def compile_phi(q: PhiQuery, sales: DataFrame) -> DataFrame:
    """Compile a PhiQuery against the given input relation.  The group-table
    persists are the call's generation (``iterutil.generation``)."""
    with generation("compile_phi") as pins:
        return _compile(q, sales, pins)


def _compile(q: PhiQuery, sales: DataFrame, pins: Pins) -> DataFrame:
    v = q.group_attrs
    base = sales
    where = _sigma(q.where)
    if where is not None:
        base = base.filter(where)  # Catalyst pushes this into the scan

    g0_names = frozenset(a.name for a in q.group0)
    plans = [classify_gv(gv, v, dict(sales.dtypes), g0_names) for gv in q.gvs]

    # ---- FACT_WINDOW prep: attach each referenced group-0 aggregate to
    # every fact row with a partitionBy(V) window. The window and the scan-0
    # groupBy share one hashpartitioning(V) exchange, so the whole query is
    # still a single pass over the fact table (the groupBy loses map-side
    # combine — full rows cross the shuffle — but the staged JOIN alternative
    # re-reads AND re-shuffles the full fact table a second time).
    agg_base = base
    fw_plans = [p for p in plans if p.strategy == "fact_window"]
    if fw_plans:
        g0_by_name = {a.name: a for a in q.group0}
        needed = sorted(
            {
                o.name
                for p in fw_plans
                for c in p.rowconds
                for o in (c.left, c.right)
                if o.kind == "mf" and o.name in g0_names
            }
        )
        wv = W.partitionBy(*v)
        for nm in needed:
            a = g0_by_name[nm]
            expr = (
                F.count(F.lit(1))
                if a.fn == "count"
                else _AGG_FNS[a.fn](F.col(a.src))
            )
            agg_base = agg_base.withColumn(f"__g0w_{nm}", expr.over(wv))

    # ---- scan 0: ONE hash aggregation builds the group table, group-0
    # aggregates, every COND_AGG / FACT_WINDOW aggregate, and the partials
    # for WINDOW GVs.
    aggs: list[Column] = []
    for a in q.group0:
        aggs.append(_agg_expr(a.fn, a.src, None, a.name))
    for p in plans:
        gv = p.gv
        guard = _sigma(gv.tuple_conds)
        if p.strategy == "cond_agg":
            aggs.append(_agg_expr(gv.agg.fn, gv.agg.src, guard, gv.agg.name))
        elif p.strategy == "fact_window":
            parts = ([] if guard is None else [guard]) + [
                _memb(
                    _rowcond_operand(c.left, g0_names),
                    c.op,
                    _rowcond_operand(c.right, g0_names),
                )
                for c in p.rowconds
            ]
            aggs.append(_agg_expr(gv.agg.fn, gv.agg.src, _and_all(parts), gv.agg.name))
        elif p.strategy in ("window", "group_join"):
            i = gv.index
            if gv.agg.fn in ("avg", "sum", "count"):
                if gv.agg.fn != "count":
                    aggs.append(_agg_expr("sum", gv.agg.src, guard, f"__psum_{i}"))
                if gv.agg.fn == "avg":
                    # AVG denominator counts non-NULL src values (SQL AVG
                    # ignores NULLs); a row count would skew nullable sources.
                    nn = (
                        F.col(gv.agg.src)
                        if guard is None
                        else F.when(guard, F.col(gv.agg.src))
                    )
                    aggs.append(F.count(nn).alias(f"__pcnt_{i}"))
                else:
                    aggs.append(_agg_expr("count", gv.agg.src, guard, f"__pcnt_{i}"))
            else:  # min / max over frame = min/max of per-group partials
                aggs.append(_agg_expr(gv.agg.fn, gv.agg.src, guard, f"__p{gv.agg.fn}_{i}"))
    if not aggs:
        groups = base.select(*v).distinct()
    else:
        groups = agg_base.groupBy(*v).agg(*aggs)

    # ---- WINDOW GVs: pure group-table rollups, no second pass over sales.
    # θ-conditions need ordering → range-frame window. Unordered totals
    # (superset / anti) use re-aggregate + join-back instead of a
    # whole-partition window: no sort, no one-task-per-hot-partition skew,
    # and AQE broadcasts the (tiny) totals side. The group table feeds both
    # sides of those join-backs, so persist it — otherwise the totals branch
    # would recompute the whole fact-table pipeline.
    if any(
        (p.strategy == "window" and p.theta is None) or p.strategy == "group_join"
        for p in plans
    ):
        groups = pins.persist(groups)
    for p in plans:
        if p.strategy != "window":
            continue
        gv, i, fn = p.gv, p.gv.index, p.gv.agg.fn
        if p.theta is not None:
            attr, op = p.theta
            w = (
                W.partitionBy(*p.eq_attrs)
                .orderBy(F.col(attr))
                .rangeBetween(*_THETA_FRAMES[op])
            )
            if fn in ("min", "max"):
                groups = groups.withColumn(
                    gv.agg.name, _AGG_FNS[fn](F.col(f"__p{fn}_{i}")).over(w)
                )
                continue
            cnt = F.sum(F.col(f"__pcnt_{i}")).over(w)
            tot = F.sum(F.col(f"__psum_{i}")).over(w) if fn != "count" else None
        elif fn in ("min", "max"):  # superset min/max: min of partial mins
            groups = _reagg_join(
                groups,
                p.eq_attrs,
                [_AGG_FNS[fn](F.col(f"__p{fn}_{i}")).alias(f"__tot{fn}_{i}")],
            ).withColumnRenamed(f"__tot{fn}_{i}", gv.agg.name)
            continue
        else:
            psum, pcnt = F.col(f"__psum_{i}"), F.col(f"__pcnt_{i}")
            tot_aggs = [F.sum(pcnt).alias(f"__tc_{i}")]
            if fn != "count":
                tot_aggs.append(F.sum(psum).alias(f"__ts_{i}"))
            groups = _reagg_join(groups, p.eq_attrs, tot_aggs)
            cnt = F.col(f"__tc_{i}")
            tot = F.col(f"__ts_{i}") if fn != "count" else None
            if p.anti_attr is not None:
                # "other groups": subtract the totals of groups sharing this
                # group's anti-attribute value.
                if set(p.eq_attrs + [p.anti_attr]) == set(v):
                    # S ∪ {anti} is the full group key — "self" is one row
                    self_cnt, self_sum = pcnt, F.coalesce(psum, F.lit(0))
                else:
                    self_aggs = [F.sum(pcnt).alias(f"__sc_{i}")]
                    if fn != "count":
                        self_aggs.append(F.sum(psum).alias(f"__ss_{i}"))
                    groups = _reagg_join(
                        groups, p.eq_attrs + [p.anti_attr], self_aggs
                    )
                    self_cnt = F.col(f"__sc_{i}")
                    self_sum = F.coalesce(F.col(f"__ss_{i}"), F.lit(0))
                cnt = cnt - self_cnt
                if fn != "count":
                    tot = F.coalesce(tot, F.lit(0)) - self_sum
        groups = groups.withColumn(gv.agg.name, _finish(fn, cnt, tot))

    # ---- GROUP_JOIN GVs: θ-self-join of the group table on the GV's simple
    # conditions, re-aggregating the scan-0 partials — still zero extra
    # passes over sales. The "tuple side" of the membership test is the
    # partial-carrying copy of the group table (o); the anchor side is the
    # group row itself.
    for p in plans:
        if p.strategy != "group_join":
            continue
        groups = _group_join_gv(groups, v, p)
    groups = groups.drop(
        *[c for c in groups.columns if c.startswith(("__p", "__t", "__s"))]
    )

    # ---- JOIN_AGG GVs: staged in GV index order (dependent aggregates,
    # reference O10, see golden query 6) against the accumulating group table.
    # The group table participates in every stage (join side + join-back
    # anchor); it is small by definition (|G| ≪ |sales|), so persist it and
    # pay the fact-table pipeline once instead of once per reference.
    acc = groups
    if any(p.strategy == "join" for p in plans):
        acc = pins.persist(acc)
    for p in plans:
        if p.strategy != "join":
            continue
        acc = _join_agg_stage(acc, base, p.gv, v)

    # ---- projection + HAVING
    out = acc.select(*q.select)
    if q.having is not None:
        out = out.filter(_having_col(q.having))
    return out


def _group_join_gv(groups: DataFrame, v: list[str], p: _GVPlan) -> DataFrame:
    """One GROUP_JOIN stage: groups ⋈θ groups-partials → groupBy(V) → agg →
    null-safe join back. Semantics per condition kind mirror the membership
    rules (eq/anti null-safe, θ plain SQL), evaluated between the other
    group's attribute (o, standing in for its tuples) and this group's."""
    gv, i, fn = p.gv, p.gv.index, p.gv.agg.fn
    if fn in ("min", "max"):
        pcols = [f"__p{fn}_{i}"]
    elif fn == "count":
        pcols = [f"__pcnt_{i}"]
    else:
        pcols = [f"__psum_{i}", f"__pcnt_{i}"]
    gcond_cols = {
        o.name for c in p.gconds for o in (c.left, c.right) if o.kind == "col"
    }
    o_attrs = sorted(
        set(p.eq_attrs) | {a for a, _ in p.thetas} | set(p.anti_attrs) | gcond_cols
    )
    o = groups.select(
        *[F.col(a).alias(f"__o_{a}") for a in o_attrs],
        *[F.col(c).alias(f"__o_{c}") for c in pcols],
    )
    attr_ops = (
        [(a, "==") for a in p.eq_attrs] + p.thetas + [(a, "!=") for a in p.anti_attrs]
    )
    conds = [_memb(F.col(f"__o_{a}"), op, F.col(a)) for a, op in attr_ops]

    # generic group-level conditions: tuple-side operands stand in for the
    # other group (o), MF operands are the anchor's fields (grouping attrs or
    # group-0 aggregates).
    def _gside(op_: Operand) -> Column:
        if op_.kind == "col":
            return F.col(f"__o_{op_.name}")
        if op_.kind == "mf":
            return F.col(op_.name)
        return F.lit(op_.value)

    conds += [_memb(_gside(c.left), c.op, _gside(c.right)) for c in p.gconds]
    # anchor side carries its grouping key plus any group-0 aggregates the
    # group-level conditions reference
    anchor_extra = sorted(
        {
            o_.name
            for c in p.gconds
            for o_ in (c.left, c.right)
            if o_.kind == "mf" and o_.name not in v
        }
    )
    # pure-θ/anti join: broadcast the partials side so Catalyst plans a
    # BroadcastNestedLoopJoin over the (tiny) group table, never a cartesian
    # shuffle; with equi keys a hash join on them is fine.
    o_side = o if p.eq_attrs else F.broadcast(o)
    joined = groups.select(*v, *anchor_extra).join(o_side, _and_all(conds), "inner")
    if fn in ("min", "max"):
        tot_aggs = [_AGG_FNS[fn](F.col(f"__o___p{fn}_{i}")).alias(f"__tm_{i}")]
    else:
        tot_aggs = [F.sum(F.col(f"__o___pcnt_{i}")).alias(f"__tc_{i}")]
        if fn != "count":
            tot_aggs.append(F.sum(F.col(f"__o___psum_{i}")).alias(f"__ts_{i}"))
    out = _join_back(groups, joined.groupBy(*v).agg(*tot_aggs), v)
    if fn in ("min", "max"):
        expr = F.col(f"__tm_{i}")
    else:
        expr = _finish(fn, F.col(f"__tc_{i}"), F.col(f"__ts_{i}"))
    return out.withColumn(gv.agg.name, expr).drop(f"__tm_{i}", f"__tc_{i}", f"__ts_{i}")


def _join_agg_stage(
    acc: DataFrame, base: DataFrame, gv: GroupingVar, v: list[str]
) -> DataFrame:
    """One generic EMF stage: base ⋈θ groups → σ → groupBy(V) → agg → join back."""
    needed = set(v)
    for c in gv.mf_conds:
        for o in (c.left, c.right):
            if o.kind == "mf":
                needed.add(o.name)
    g = acc.select(*sorted(needed)).alias("g")
    s = base.alias("s")

    def side(o: Operand) -> Column:
        if o.kind == "col":
            return F.col(f"s.{o.name}")
        if o.kind == "mf":
            return F.col(f"g.{o.name}")
        return F.lit(o.value)

    # MF membership follows the membership rule; σ comparisons keep plain
    # SQL semantics.
    conds = [_memb(side(c.left), c.op, side(c.right)) for c in gv.mf_conds]
    conds += [
        _PYOPS[c.op](side(c.left), side(c.right)) for c in gv.tuple_conds
    ]
    has_equi = any(c.op == "==" for c in gv.mf_conds)
    # Pure-θ join: force the (small) group side broadcast so Catalyst plans a
    # BroadcastNestedLoopJoin instead of a cartesian shuffle.
    g_side = g if has_equi else F.broadcast(g)
    joined = s.join(g_side, _and_all(conds), "inner")

    guard = None  # tuple conds already applied in the join condition
    agg_col = _agg_expr(gv.agg.fn, f"s.{gv.agg.src}", guard, gv.agg.name)
    res = joined.groupBy(*[F.col(f"g.{a}").alias(a) for a in v]).agg(agg_col)
    out = _join_back(acc, res, v)
    if gv.agg.fn == "count":
        out = out.withColumn(gv.agg.name, F.coalesce(F.col(gv.agg.name), F.lit(0)))
    return out


def _having_col(h: Having) -> Column:
    if h.op == "leaf":
        c = h.cond

        def side(o: Operand) -> Column:
            return F.col(o.name) if o.kind == "mf" else F.lit(o.value)

        return _PYOPS[c.op](side(c.left), side(c.right))
    parts = [_having_col(ch) for ch in h.children]
    out = parts[0]
    for pcol in parts[1:]:
        out = (out & pcol) if h.op == "and" else (out | pcol)
    return out
