"""Binary operators & vector matching (SURVEY.md §2.4) — the join layer.

Semantics from app/vmselect/promql/binary_op.go: both sides share the
timestamp grid, so the join key is the canonical label match-key + grid
ts; arithmetic is then columnar. Hash join ≡ VM's
createTimeseriesMapByTagSet (binary_op.go:762-796).

Decisions (documented for oracle parity):
- "no sample at ts" is an absent row; comparison-without-bool filters rows
  (VM: non-matching → NaN, binary_op.go:136-154).
- Division/modulo by zero produce NULL in non-ANSI Spark SQL → the row is
  dropped (VM yields ±Inf/NaN; we document the delta and keep NULL=gap).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.metricsql.ast import BinaryOpExpr
from victoriametrics_spark.schema import canonical_labels_str

if TYPE_CHECKING:
    from victoriametrics_spark.engine.planner import Plan, Planner

ARITH_OPS: dict[str, Callable[[Column, Column], Column]] = {
    "+": lambda l, r: l + r,
    "-": lambda l, r: l - r,
    "*": lambda l, r: l * r,
    "/": lambda l, r: F.try_divide(l, r),
    "%": lambda l, r: F.try_mod(l, r),
    "^": lambda l, r: F.pow(l, r),
    "atan2": lambda l, r: F.atan2(l, r),
}

CMP_OPS: dict[str, Callable[[Column, Column], Column]] = {
    "==": lambda l, r: l == r,
    "!=": lambda l, r: l != r,
    ">": lambda l, r: l > r,
    "<": lambda l, r: l < r,
    ">=": lambda l, r: l >= r,
    "<=": lambda l, r: l <= r,
}


def cmp_go(op: str) -> Callable[[Column, Column], Column]:
    """Comparison with GO/IEEE NaN semantics (newBinaryOpCmpFunc,
    binary_op.go:136-153): every comparison involving NaN is false —
    except ``!=``, which is true. Spark's own ordering treats NaN as
    the LARGEST value (NaN == NaN, x < NaN, NaN > x are all true), so
    the raw Column operators diverge exactly where a NaN operand
    appears — e.g. ``q < (1 > 2)`` (empty scalar → NaN) must drop
    every point, not keep them all."""
    base = CMP_OPS[op]

    def f(l: Column, r: Column) -> Column:
        either_nan = F.isnan(l) | F.isnan(r)
        if op == "!=":
            return F.when(either_nan, F.lit(True)).otherwise(base(l, r))
        return F.when(either_nan, F.lit(False)).otherwise(base(l, r))

    return f


def cmp_bool_go(op: str) -> Callable[[Column, Column], Column]:
    """bool-modifier comparison (binary_op.go:144-151): NaN LEFT → NaN
    (the point stays filtered), else Go-semantics cmp as 1/0."""
    go = cmp_go(op)

    def f(l: Column, r: Column) -> Column:
        return F.when(F.isnan(l), F.lit(float("nan"))).otherwise(
            go(l, r).cast("double")
        )

    return f

SET_OPS = {"and", "or", "unless", "if", "ifnot", "default"}


def match_key_col(group_modifier) -> Column:
    """Canonical match key from the label map, honoring on()/ignoring()
    (adjustBinaryOpTags, binary_op.go:271-373). Default: all labels
    (metric name excluded — it lives outside the map)."""
    labels = F.col("labels")
    if group_modifier is None:
        restricted = labels
    elif group_modifier.op == "on":
        keys = [str(k) for k in group_modifier.args]
        restricted = (
            F.map_filter(labels, lambda k, v: k.isin(*keys))
            if keys
            else F.create_map().cast("map<string,string>")
        )
    else:  # ignoring
        keys = [str(k) for k in group_modifier.args]
        restricted = (
            F.map_filter(labels, lambda k, v: ~k.isin(*keys)) if keys else labels
        )
    return canonical_labels_str(restricted)


def plan_binop(planner: "Planner", be: BinaryOpExpr, cfg: EvalConfig) -> "Plan":
    from victoriametrics_spark.engine.planner import PlanError, Scalar

    op = be.op
    fused = _try_fused_same_source(planner, be, cfg)
    if fused is not None:
        return fused
    if op in ("==", "!="):
        mem = _try_list_membership(planner, be, cfg)
        if mem is not None:
            return mem
    left = planner.plan(be.left, cfg)
    right = planner.plan(be.right, cfg)

    l_scalar = isinstance(left, Scalar)
    r_scalar = isinstance(right, Scalar)

    # ---------------- scalar ∘ scalar ----------------
    if l_scalar and r_scalar:
        if op in SET_OPS:
            # both sides are empty-label series sharing the grid, so the
            # match key always matches and set ops reduce to per-point
            # NULL masks (binary_op.go scalar handling via timeseries
            # with empty MetricName)
            lf, rf = left.fn, right.fn
            if op in ("default", "or"):
                return Scalar(fn=lambda ts: F.coalesce(lf(ts), rf(ts)))
            if op in ("if", "and"):
                return Scalar(fn=lambda ts: F.when(rf(ts).isNotNull(), lf(ts)))
            # unless / ifnot
            return Scalar(fn=lambda ts: F.when(rf(ts).isNull(), lf(ts)))
        lf, rf = left.fn, right.fn
        if op in CMP_OPS:
            # NULL propagation is load-bearing here: a filtered point of
            # a scalar comparison is NULL in this engine, and NULL-in →
            # NULL-out reproduces VM's dropNaNRight treatment of
            # vector-comparison NaNs (binary_op.go:196-203) — do NOT
            # coalesce to NaN. cmp_go only corrects GENUINE NaN values.
            if be.bool_modifier:
                cmpb = cmp_bool_go(op)
                return Scalar(fn=lambda ts: cmpb(lf(ts), rf(ts)))
            cmp = cmp_go(op)
            # scalar cmp scalar without bool keeps LEFT
            # (binaryOpEvalNumber), EXCEPT when the left is a number
            # literal and the right is computed: eval.go swaps them
            # (`123 < time()` ≡ `time() > 123`), so the computed side's
            # values survive the filter
            keep = rf if (left.const is not None and right.const is None) else lf
            return Scalar(
                fn=lambda ts, keep=keep: F.when(cmp(lf(ts), rf(ts)), keep(ts))
            )
        f = ARITH_OPS[op]
        const = None
        if left.const is not None and right.const is not None and op in ARITH_OPS:
            try:
                import math

                pyops = {
                    "+": lambda a, b: a + b,
                    "-": lambda a, b: a - b,
                    "*": lambda a, b: a * b,
                    "/": lambda a, b: a / b if b != 0 else math.nan,
                    "%": lambda a, b: math.fmod(a, b) if b != 0 else math.nan,
                    "^": lambda a, b: a**b,
                    "atan2": math.atan2,
                }
                const = pyops[op](left.const, right.const)
                if isinstance(const, complex):
                    # Python ** returns a complex for a negative base
                    # with fractional exponent; Go math.Pow yields NaN
                    const = math.nan
            except Exception:
                const = None
        return Scalar(fn=lambda ts: f(lf(ts), rf(ts)), const=const)

    # ---------------- series ∘ scalar / scalar ∘ series ----------------
    if l_scalar != r_scalar:
        df = right if l_scalar else left
        sc = left if l_scalar else right
        # VM's scalar fast path applies ONLY with no group/join modifier
        # (adjustBinaryOpTags, binary_op.go:272-292); with on()/ignoring()
        # or group_left/right, the scalar is an ordinary empty-label
        # series going through the generic match — `q + on(job) 2`
        # matches nothing and returns empty, exactly like the reference.
        if be.group_modifier is not None or be.join_modifier is not None:
            ldf = planner.materialize(left, cfg)
            rdf = planner.materialize(right, cfg)
            if op in SET_OPS:
                return _plan_series_setop(planner, op, ldf, rdf, be)
            return _plan_series_arith(planner, op, ldf, rdf, be)
        sc_fn = sc.fn
        vcol = F.col("value")
        scol = sc_fn(F.col("ts")).cast("double")
        lv, rv = (scol, vcol) if l_scalar else (vcol, scol)
        if op in CMP_OPS:
            # a missing scalar point is NaN in VM (an empty scalar cmp
            # result like `(1 > 2)` compares as NaN, so `q != (1 > 2)`
            # keeps every point); comparisons use Go NaN semantics
            lv2 = F.coalesce(lv, F.lit(float("nan"))) if l_scalar else lv
            rv2 = F.coalesce(rv, F.lit(float("nan"))) if not l_scalar else rv
            if be.bool_modifier:
                out = df.withColumn(
                    "value", cmp_bool_go(op)(lv2, rv2)
                ).withColumn("name", F.lit(""))
                return out
            cmp = cmp_go(op)(lv2, rv2)
            if l_scalar and sc.const is None:
                # computed scalar on the LEFT (`time() > q`): the cmp
                # func returns its LEFT operand, so matched points carry
                # the SCALAR's values on the series' identity
                # (binary_op.go:275-282 fast path + cfe returns left).
                # Number literals are exempt — eval swaps `123 < q`
                # to `q > 123`, keeping the series values.
                return df.filter(cmp).withColumn("value", lv2)
            return df.filter(cmp)  # keep original values & name
        if op in SET_OPS:
            if op == "default" and r_scalar:
                # q default N: fill each left series' missing grid points
                return _fill_missing_with_scalar(planner, df, sc, cfg)
            # Other scalar set ops: materialize the scalar as an empty-label
            # series and use the generic set-op join — VM materializes
            # NumberExpr to a timeseries with empty MetricName, so e.g.
            # `vector_with_labels and scalar` matches nothing (keys differ).
            return _plan_series_setop(
                planner,
                op,
                planner.materialize(left, cfg),
                planner.materialize(right, cfg),
                be,
            )
        f = ARITH_OPS[op]
        out = df.withColumn("value", f(lv, rv).cast("double"))
        if not be.keep_metric_names:
            out = out.withColumn("name", F.lit(""))
        return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))

    # ---------------- series ∘ series ----------------
    if op in SET_OPS:
        return _plan_series_setop(planner, op, left, right, be)
    return _plan_series_arith(planner, op, left, right, be)


def _try_list_membership(planner, be: BinaryOpExpr, cfg: EvalConfig):
    """`q == (1,2,3)` / `q != (1,2,3)` — list membership against a union
    of number literals (binary_op.go:58-114): keep the series point when
    its value equals any / none of the listed constants."""
    from victoriametrics_spark.metricsql.ast import FuncExpr, NumberExpr

    def union_values(e):
        if (
            isinstance(e, FuncExpr)
            and e.name in ("", "union")
            and len(e.args) >= 2
            and all(isinstance(a, NumberExpr) for a in e.args)
        ):
            return [float(a.value) for a in e.args]
        return None

    lvals = union_values(be.left)
    rvals = union_values(be.right)
    if lvals is None and rvals is None:
        return None
    series_expr, vals = (
        (be.right, lvals) if lvals is not None else (be.left, rvals)
    )
    df = planner.materialize(planner.plan(series_expr, cfg), cfg)
    isin = F.col("value").isin(vals)
    return df.filter(isin if be.op == "==" else ~isin)


# ------------------------------------------------ fused same-source binop
# `agg(f(A{x="a"}[w])) op agg(f(A{x="b"}[w]))` shapes — both sides differ
# only in selector label filters — plan as ONE scan + ONE per-series
# rollup + ONE grouped aggregation with two side-conditional aggregates,
# instead of two scans + two aggs + a hash join. This is the missing half
# of the reference's sequential-evaluation trick (evalExprInternal +
# cross-side pushdown, eval.go:422-596): at 100 TB it halves the dominant
# scan cost of ratio-of-selectors queries and removes the join shuffle.
_FUSABLE_AGGRS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    # count over ZERO side-matching rows must be an ABSENT row (NULL),
    # not 0.0 — the unfused plan's inner join drops groups that exist on
    # only one side, and every other aggregate returns NULL there too
    "count": lambda c: F.nullif(F.count(c), F.lit(0)).cast("double"),
    "sum2": lambda c: F.sum(c * c),
    "stddev": F.stddev_pop,
    "stdvar": F.var_pop,
    "geomean": lambda c: F.exp(F.avg(F.log(c))),
}


def _skeleton_and_selector(e):
    """(repr-with-selector-replaced, MetricExpr) when `e` is a pure chain
    of rollup funcs / rollup exprs over exactly one selector; else None."""
    from victoriametrics_spark.metricsql.ast import (
        DurationExpr,
        FuncExpr,
        MetricExpr,
        NumberExpr,
        RollupExpr,
        StringExpr,
    )
    from victoriametrics_spark.metricsql.funcs import is_rollup_func

    found: list = []

    def walk(x) -> str | None:
        if isinstance(x, MetricExpr):
            found.append(x)
            return "<SEL>"
        if isinstance(x, RollupExpr):
            inner = walk(x.expr)
            if inner is None:
                return None
            return (
                f"Rollup({inner},w={x.window!r},o={x.offset!r},"
                f"s={x.step!r},at={x.at!r},k={x.keep_metric_names})"
            )
        if isinstance(x, FuncExpr):
            # only rollup funcs are guaranteed label-preserving per-series;
            # absent_over_time is a rollup func but NOT label-preserving
            # (it SYNTHESIZES a series from the selector when nothing
            # matches — a fused union scan would lose the per-side
            # absence)
            if not is_rollup_func(x.name) or x.name == "absent_over_time":
                return None
            parts = []
            for a in x.args:
                if isinstance(a, (NumberExpr, StringExpr, DurationExpr)):
                    parts.append(repr(a))
                    continue
                inner = walk(a)
                if inner is None:
                    return None
                parts.append(inner)
            return f"Fn:{x.name}({','.join(parts)},k={x.keep_metric_names})"
        return None

    skel = walk(e)
    if skel is None or len(found) != 1:
        return None
    return skel, found[0]


def _subst_selector(e, new_me):
    """Rebuild `e` with its single MetricExpr replaced by `new_me`."""
    from dataclasses import replace as _rp

    from victoriametrics_spark.metricsql.ast import (
        FuncExpr,
        MetricExpr,
        RollupExpr,
    )

    if isinstance(e, MetricExpr):
        return new_me
    if isinstance(e, RollupExpr):
        return _rp(e, expr=_subst_selector(e.expr, new_me))
    if isinstance(e, FuncExpr):
        return _rp(
            e,
            args=[
                _subst_selector(a, new_me)
                if isinstance(a, (MetricExpr, RollupExpr, FuncExpr))
                else a
                for a in e.args
            ],
        )
    return e


def _label_membership_pred(me) -> Column:
    """Selector predicate over the OUTPUT label map (name filters
    excluded — callers verify both sides share identical name filters)."""
    group_preds: list[Column] = []
    for group in me.label_filterss:
        preds = []
        for f in group:
            if f.label == "__name__":
                continue
            lv = F.coalesce(F.col("labels").getItem(f.label), F.lit(""))
            if f.op == "=":
                preds.append(lv == F.lit(f.value))
            elif f.op == "!=":
                preds.append(lv != F.lit(f.value))
            elif f.op == "=~":
                preds.append(lv.rlike(f"^(?:{f.value})$"))
            else:
                preds.append(~lv.rlike(f"^(?:{f.value})$"))
        p = F.lit(True)
        for q in preds:
            p = p & q
        group_preds.append(p)
    out = group_preds[0] if group_preds else F.lit(True)
    for q in group_preds[1:]:
        out = out | q
    return out


def _name_filter_sig(me):
    """The __name__ filter signature, identical across OR groups or None."""
    sigs = {
        tuple(sorted((f.op, f.value) for f in g if f.label == "__name__"))
        for g in (me.label_filterss or [[]])
    }
    return sigs.pop() if len(sigs) == 1 else None


def _try_fused_same_source(planner, be: BinaryOpExpr, cfg: EvalConfig):
    from victoriametrics_spark.engine.aggr import group_labels_col
    from victoriametrics_spark.metricsql.ast import AggrFuncExpr, MetricExpr

    if (
        be.op not in ARITH_OPS
        or be.bool_modifier
        or be.group_modifier is not None
        or be.join_modifier is not None
        or be.fill_left is not None
        or be.fill_right is not None
    ):
        return None
    l, r = be.left, be.right
    if not (isinstance(l, AggrFuncExpr) and isinstance(r, AggrFuncExpr)):
        return None
    if l.name != r.name or l.name not in _FUSABLE_AGGRS:
        return None
    if (l.limit or 0) != 0 or (r.limit or 0) != 0:
        return None
    if repr(l.modifier) != repr(r.modifier):
        return None
    if l.modifier is not None and l.modifier.op != "by":
        return None
    if len(l.args) != 1 or len(r.args) != 1:
        return None
    sl = _skeleton_and_selector(l.args[0])
    sr = _skeleton_and_selector(r.args[0])
    if sl is None or sr is None or sl[0] != sr[0]:
        return None
    me_l, me_r = sl[1], sr[1]
    nsig = _name_filter_sig(me_l)
    if nsig is None or nsig != _name_filter_sig(me_r):
        return None

    union_me = MetricExpr(
        label_filterss=[list(g) for g in (me_l.label_filterss or [[]])]
        + [list(g) for g in (me_r.label_filterss or [[]])]
    )
    inner = _subst_selector(l.args[0], union_me)
    df = planner.materialize(planner.plan(inner, cfg), cfg)

    pred_l = _label_membership_pred(me_l)
    pred_r = _label_membership_pred(me_r)
    agg = _FUSABLE_AGGRS[l.name]
    df = df.withColumn("__glabels", group_labels_col(l.modifier)).withColumn(
        "__gkey", canonical_labels_str(F.col("__glabels"))
    )
    grouped = df.groupBy("__gkey", "ts").agg(
        F.first("__glabels").alias("labels"),
        agg(F.when(pred_l, F.col("value"))).cast("double").alias("__l"),
        agg(F.when(pred_r, F.col("value"))).cast("double").alias("__r"),
    )
    value = ARITH_OPS[be.op](F.col("__l"), F.col("__r"))
    # `by (__name__)` injects the metric name into the group labels
    # (aggr.group_labels_col); the unfused plan lifts it back into the
    # name column (aggr._shape) and the arith then resets it unless
    # keep_metric_names — mirror both steps here
    name_out = (
        F.coalesce(F.col("labels")["__name__"], F.lit(""))
        if be.keep_metric_names
        else F.lit("")
    )
    out = grouped.select(
        name_out.alias("name"),
        F.map_filter(
            F.col("labels"), lambda k, v: k != F.lit("__name__")
        ).alias("labels"),
        F.col("ts"),
        value.cast("double").alias("value"),
    )
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def _plan_series_setop(
    planner, op: str, ldf: DataFrame, rdf: DataFrame, be: BinaryOpExpr
) -> DataFrame:
    mk = match_key_col(be.group_modifier)
    l = ldf.withColumn("__mk", mk)
    r = rdf.withColumn("__mk", mk)

    if op in ("and", "if"):
        # left points with a matching right point at the same ts
        # (binary_op.go:535-547 and :521-533 — same join, if also masks)
        return (
            l.join(r.select("__mk", "ts").distinct(), ["__mk", "ts"], "left_semi")
            .select("name", "labels", "ts", "value")
        )
    if op in ("unless", "ifnot"):
        return (
            l.join(r.select("__mk", "ts").distinct(), ["__mk", "ts"], "left_anti")
            .select("name", "labels", "ts", "value")
        )
    # or / default
    # or: left series plus right points at (key,ts) cells left lacks
    # (binary_op.go:588-645); default: left values, right fills gaps
    if op == "or":
        extra = r.join(
            l.select("__mk", "ts").distinct(), ["__mk", "ts"], "left_anti"
        )
        return l.select("name", "labels", "ts", "value").unionByName(
            extra.select("name", "labels", "ts", "value")
        )
    # default: fillLeftNaNsWithRightValues (binary_op.go:568-586,622-640)
    # fills EACH left series' own gaps independently — a key matched by
    # two left series fills both of their gaps, each keeping its own
    # identity (not one fill row per cell missing from ALL of them).
    # Volume: per match key, |left series| x |right cells| candidates —
    # the same bound as a group_left join.
    lser = l.groupBy(
        "__mk",
        F.col("name"),
        canonical_labels_str(F.col("labels")).alias("__sk"),
    ).agg(F.first("labels").alias("labels"))
    # one fill value per (key, ts) cell — with several right series VM
    # takes whichever it iterates first; pick the canonically-first
    # series for determinism
    rcell = r.groupBy("__mk", "ts").agg(
        F.min_by(
            F.col("value"),
            F.struct(F.col("name"), canonical_labels_str(F.col("labels"))),
        ).alias("value")
    )
    cand = rcell.join(lser, "__mk", "inner")
    own = l.select(
        "__mk",
        canonical_labels_str(F.col("labels")).alias("__sk"),
        "ts",
    )
    fill = cand.join(own, ["__mk", "__sk", "ts"], "left_anti")
    return l.select("name", "labels", "ts", "value").unionByName(
        fill.select("name", "labels", "ts", "value")
    )


def _plan_series_arith(
    planner, op: str, ldf: DataFrame, rdf: DataFrame, be: BinaryOpExpr
) -> DataFrame:
    """Arithmetic / comparison joins with VM's duplicate-series validation."""
    from pyspark.sql.window import Window

    mk = match_key_col(be.group_modifier)
    l = ldf.withColumn("__mk", mk)
    r = rdf.withColumn("__mk", mk)
    join_mod = be.join_modifier.op if be.join_modifier else None
    l_sel = l.select(
        F.col("__mk"),
        F.col("ts"),
        F.col("name").alias("__lname"),
        F.col("labels").alias("__llabels"),
        F.col("value").alias("__lv"),
    )
    r_sel = r.select(
        F.col("__mk"),
        F.col("ts"),
        F.col("name").alias("__rname"),
        F.col("labels").alias("__rlabels"),
        F.col("value").alias("__rv"),
    )
    # fill()/fill_left()/fill_right(): a missing side at a (key, ts) cell
    # stops dropping the row and takes the fill value instead — VM
    # synthesizes NaN-filled series then substitutes the fill number
    # (binary_op.go:309-324, :224-229). Cell-level outer join + coalesce
    # is the equivalent columnar form.
    fill_l, fill_r = be.fill_left, be.fill_right
    if fill_l is not None and fill_r is not None:
        how = "full"
    elif fill_l is not None:
        how = "right"
    elif fill_r is not None:
        how = "left"
    else:
        how = "inner"
    joined = l_sel.join(r_sel, ["__mk", "ts"], how)
    if fill_l is not None:
        joined = joined.withColumn(
            "__lv", F.coalesce(F.col("__lv"), F.lit(float(fill_l)))
        ).withColumn(
            "__llabels", F.coalesce(F.col("__llabels"), F.col("__rlabels"))
        ).withColumn(
            "__lname",
            F.coalesce(
                F.col("__lname"),
                F.col("__rname") if be.keep_metric_names else F.lit(""),
            ),
        )
    if fill_r is not None:
        joined = joined.withColumn(
            "__rv", F.coalesce(F.col("__rv"), F.lit(float(fill_r)))
        ).withColumn(
            "__rlabels", F.coalesce(F.col("__rlabels"), F.col("__llabels"))
        ).withColumn(
            "__rname",
            F.coalesce(
                F.col("__rname"),
                F.col("__lname") if be.keep_metric_names else F.lit(""),
            ),
        )

    # Duplicate-series validation (VM ensureSingleTimeseries,
    # binary_op.go:395-407): errors only for keys that actually matched —
    # computed post-join, where rows are already clustered by (__mk, ts) so
    # the window adds no extra shuffle. Series duplicated on disjoint
    # timestamps never collide at one (key, ts) cell, mirroring VM's
    # mergeNonOverlappingTimeseries tolerance (binary_op.go:472-505).
    if join_mod is None:
        dup = (
            F.count("*").over(Window.partitionBy("__mk", "ts")) > 1,
            "duplicate time series found on the left or right side of a "
            "one-to-one vector match; use group_left/group_right for "
            "many-to-one matches",
        )
    elif join_mod == "group_left":
        w1 = Window.partitionBy(
            "__mk", "ts", F.col("__lname"), canonical_labels_str(F.col("__llabels"))
        )
        dup = (
            F.count("*").over(w1) > 1,
            "multiple time series match a single series on the right side "
            "of group_left",
        )
    else:  # group_right
        w1 = Window.partitionBy(
            "__mk", "ts", F.col("__rname"), canonical_labels_str(F.col("__rlabels"))
        )
        dup = (
            F.count("*").over(w1) > 1,
            "multiple time series match a single series on the left side "
            "of group_right",
        )

    def _guarded(value: Column) -> Column:
        cond, msg = dup
        return F.when(cond, F.raise_error(F.lit(msg)).cast("double")).otherwise(
            value
        )

    lv, rv = F.col("__lv"), F.col("__rv")

    # result identity
    if join_mod == "group_right":
        base_labels = F.col("__rlabels")
        base_name = F.col("__rname")
        import_from = F.col("__llabels")
    else:
        base_labels = F.col("__llabels")
        base_name = F.col("__lname")
        import_from = F.col("__rlabels")

    import_name = None
    if join_mod is None:
        labels_out = _restrict_labels(base_labels, be.group_modifier)
    else:
        labels_out = base_labels
        extra_keys = [str(k) for k in (be.join_modifier.args or [])]
        if "__name__" in extra_keys:
            # group_left(__name__) imports the "one" side's metric name
            # (binary_op.go groupJoin label import includes MetricGroup)
            import_name = (
                F.col("__lname") if join_mod == "group_right" else F.col("__rname")
            )
            extra_keys = [k for k in extra_keys if k != "__name__"]
        if "*" in extra_keys:
            # group_left(*): import EVERY label of the "one" side except
            # the on() join keys (binary_op.go wildcard join tags);
            # prefix applies to the imported copies
            prefix = be.join_modifier_prefix or ""
            on_keys = (
                [str(k) for k in be.group_modifier.args]
                if be.group_modifier and be.group_modifier.op == "on"
                else []
            )
            ents = F.map_entries(import_from)
            if on_keys:
                ents = F.filter(ents, lambda e: ~e["key"].isin(*on_keys))
            imported = F.map_from_entries(ents)
            if prefix:
                imported = F.transform_keys(
                    imported, lambda k, v: F.concat(F.lit(prefix), k)
                )
            labels_out = F.map_concat(
                F.map_filter(
                    labels_out,
                    lambda k, v: ~F.map_contains_key(imported, k),
                ),
                imported,
            )
        elif extra_keys:
            prefix = be.join_modifier_prefix or ""
            imported = F.map_from_entries(
                F.filter(
                    F.map_entries(import_from),
                    lambda e: e["key"].isin(*extra_keys),
                )
            )
            if prefix:
                imported = F.transform_keys(
                    imported, lambda k, v: F.concat(F.lit(prefix), k)
                )
            labels_out = F.map_concat(
                F.map_filter(
                    labels_out,
                    lambda k, v: ~k.isin(
                        *[((be.join_modifier_prefix or "") + e) for e in extra_keys]
                    ),
                ),
                imported,
            )

    if op in CMP_OPS:
        # the cmp func ALWAYS returns its LEFT operand's value
        # (newBinaryOpCmpFunc returns `left`), even under group_right
        # where the result IDENTITY comes from the right/many side
        # (adjustBinaryOpTags: dst=rvsRight but bf(a=left, b=right))
        keep_val = lv
        if be.bool_modifier:
            value = cmp_bool_go(op)(lv, rv)
            name_out = F.lit("")
        else:
            value = F.when(cmp_go(op)(lv, rv), keep_val)
            name_out = base_name  # comparison filter keeps the series as-is
        out = joined.select(
            name_out.alias("name"),
            labels_out.alias("labels"),
            F.col("ts"),
            _guarded(value.cast("double")).alias("value"),
        )
        return out.filter(F.col("value").isNotNull())

    f = ARITH_OPS[op]
    name_out = base_name if be.keep_metric_names else F.lit("")
    if import_name is not None:
        name_out = import_name
    out = joined.select(
        name_out.alias("name"),
        labels_out.alias("labels"),
        F.col("ts"),
        _guarded(f(lv, rv).cast("double")).alias("value"),
    )
    return out.filter(F.col("value").isNotNull() & ~F.isnan("value"))


def _restrict_labels(labels: Column, group_modifier) -> Column:
    if group_modifier is None:
        return labels
    keys = [str(k) for k in group_modifier.args]
    if group_modifier.op == "on":
        if not keys:
            return F.create_map().cast("map<string,string>")
        return F.map_filter(labels, lambda k, v: k.isin(*keys))
    if not keys:
        return labels
    return F.map_filter(labels, lambda k, v: ~k.isin(*keys))


def _fill_missing_with_scalar(planner, df: DataFrame, sc, cfg) -> DataFrame:
    """``q default N`` with scalar N: fill each series' missing grid points
    (binary_op.go:568-586)."""
    from victoriametrics_spark.engine.grid import grid_df
    from victoriametrics_spark.schema import series_key

    sk = series_key(F.col("name"), F.col("labels"))
    # groupBy, not distinct — Spark forbids set ops on MAP columns
    series = df.groupBy(sk.alias("__sk")).agg(
        F.first("name").alias("name"), F.first("labels").alias("labels")
    )
    g = grid_df(planner.spark, cfg)
    dense = series.crossJoin(g)
    vals = df.select(sk.alias("__sk"), "ts", "value")
    dense = dense.join(vals, ["__sk", "ts"], "left")
    filled = F.coalesce(F.col("value"), sc.fn(F.col("ts")).cast("double"))
    return dense.select(
        "name", "labels", "ts", filled.alias("value")
    ).filter(F.col("value").isNotNull())
