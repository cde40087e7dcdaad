"""AST → Spark DataFrame planner.

Recursive evaluation mirroring the reference's evalExprInternal dispatch
(app/vmselect/promql/eval.go:279-346): selectors become implicit
``default_rollup``; rollup funcs ride the contribution-exploded grid
(engine/grid.py); transforms are pointwise Catalyst expressions;
aggregates are grouped hash-aggs; binary ops are hash joins on the
canonical match key.

Plan values are either a ``Scalar`` (value depends only on the grid
timestamp — literals, time(), scalar()) kept as a *column expression* so
it never costs a join, or a series DataFrame with the fixed shape
``(name STRING, labels MAP<STRING,STRING>, ts BIGINT-ms, value DOUBLE)``
holding one row per (series, grid point) that has a value — absence of a
row is the NaN/gap analog (NULL/NaN never stored; SURVEY.md §1.4).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from victoriametrics_spark.engine import aggr as aggr_mod
from victoriametrics_spark.engine import binop as binop_mod
from victoriametrics_spark.engine import transform as transform_mod
from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.engine.grid import (
    explode_bucket_partials,
    grid_df,
    prepare_rollup_input,
    prepare_step_buckets,
)
from victoriametrics_spark.engine.prefix import prefix_rollup
from victoriametrics_spark.engine.span import (
    ADJUST_WINDOW,
    ELIGIBILITY_ROLLUPS,
    SPAN_ROLLUPS,
    attach_widened_window,
    span_rollup,
)
from victoriametrics_spark.engine.rollup import (
    PLANNER_LEVEL_ROLLUPS,
    ROLLUP_ARG_IDX,
    ROLLUP_ARITY,
    ROLLUPS,
    RollupArgs,
)
from victoriametrics_spark.metricsql import parse
from victoriametrics_spark.metricsql.ast import (
    AggrFuncExpr,
    BinaryOpExpr,
    DurationExpr,
    Expr,
    FuncExpr,
    MetricExpr,
    NumberExpr,
    RollupExpr,
    StringExpr,
)
from victoriametrics_spark.metricsql.funcs import is_rollup_func

SERIES_COLS = ["name", "labels", "ts", "value"]


def EMPTY_LABELS() -> Column:
    # lazy: PySpark needs an active session to construct Columns
    return F.create_map().cast("map<string,string>")


class PlanError(ValueError):
    pass


@dataclass
class Scalar:
    """Grid-dependent scalar: a column expression over the grid ts (ms)."""

    fn: Callable[[Column], Column]
    const: float | None = None

    @staticmethod
    def of(v: float) -> "Scalar":
        return Scalar(fn=lambda ts, v=v: F.lit(float(v)), const=float(v))


Plan = Union[Scalar, DataFrame]


def anchored_regex(pattern: str) -> str:
    """VM label regexes are fully anchored RE2 (lib/storage/tag_filters.go:160)."""
    return f"^(?:{pattern})$"


def graphite_glob_to_regex(glob: str, delimiter: str = ".") -> str:
    """Graphite glob → anchored regex (lib/storage/tag_filters.go:175 +
    getRegexpForGraphiteQuery): ``*`` matches within one dot-group,
    ``{a,b}`` alternates, ``[...]`` char-classes, ``?`` one char.
    ``delimiter`` generalizes the group separator (the Graphite
    /metrics/expand API accepts a custom one)."""
    seg = f"[^{re.escape(delimiter)}]"
    out, i, n = [], 0, len(glob)
    while i < n:
        c = glob[i]
        if c == "*":
            out.append(f"{seg}*")
        elif c == "?":
            out.append(seg)
        elif c == "{":
            j = glob.find("}", i)
            if j < 0:
                out.append(re.escape(c))
            else:
                alts = glob[i + 1 : j].split(",")
                out.append("(?:" + "|".join(re.escape(a) for a in alts) + ")")
                i = j
        elif c == "[":
            j = glob.find("]", i)
            if j < 0:
                out.append(re.escape(c))
            else:
                out.append(glob[i : j + 1])
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out)


def selector_predicate(me: MetricExpr) -> Column:
    """OR-of-AND label filter groups → one boolean Column
    (SearchQuery.TagFilterss semantics, lib/storage/search.go:327-352).
    ``__graphite__`` filters glob-match the metric name."""
    group_preds: list[Column] = []
    for group in me.label_filterss:
        preds: list[Column] = []
        for f in group:
            if f.label == "__graphite__":
                # glob over the metric name; = / != only (VM semantics)
                rx = anchored_regex(graphite_glob_to_regex(f.value))
                p = F.col("name").rlike(rx)
                preds.append(p if f.op in ("=", "=~") else ~p)
                continue
            if f.label == "__name__":
                col = F.col("name")
            else:
                col = F.col("labels").getItem(f.label)
            lv = F.coalesce(col, F.lit(""))  # missing label ≡ empty value
            if f.op == "=":
                preds.append(lv == F.lit(f.value))
            elif f.op == "!=":
                preds.append(lv != F.lit(f.value))
            elif f.op == "=~":
                preds.append(lv.rlike(anchored_regex(f.value)))
            else:  # !~
                preds.append(~lv.rlike(anchored_regex(f.value)))
        if preds:
            p = preds[0]
            for q in preds[1:]:
                p = p & q
            group_preds.append(p)
    if not group_preds:
        return F.lit(True)
    out = group_preds[0]
    for q in group_preds[1:]:
        out = out | q
    return out


class Planner:
    def __init__(
        self,
        spark: SparkSession,
        samples: DataFrame,
        cfg: EvalConfig,
        leaf_cache=None,
    ):
        self.spark = spark
        self.samples = samples
        self.cfg = cfg
        # optional LeafResultCache (engine/cache.py): rollup-over-selector
        # leaves reuse cached prefixes à la rollup_result_cache.go
        self.leaf_cache = leaf_cache
        self._cse: dict[tuple[str, int, int, int], DataFrame] = {}
        self._ftok = None

    def _samples_fingerprint(self):
        """files_token of the input frame, computed once per planner —
        shared by the leaf and instant cache keys so appended files
        invalidate both."""
        if self._ftok is None:
            from victoriametrics_spark.engine.plancache import files_token

            self._ftok = files_token(self.samples)
        return self._ftok

    # ------------------------------------------------------------- public
    def plan_query(self, query: str | Expr) -> DataFrame:
        from victoriametrics_spark.metricsql.optimizer import optimize

        e = parse(query) if isinstance(query, str) else query
        e = optimize(e)
        out = self.materialize(self.plan(e, self.cfg), self.cfg)
        # NaN points survive DURING evaluation (a NaN-valued series must
        # exist as a binop operand — `x != label_set(NaN, ...)`), but are
        # absent from the RESULT, like VM's removeEmptySeries/NaN
        # filtering at render time (exec.go:130; exec_test expects
        # `time()*(-4)^0.5` and `nan != 1` to return nothing)
        return out.filter(
            F.col("value").isNotNull() & ~F.isnan(F.col("value"))
        )

    # ------------------------------------------------------------ helpers
    def materialize(self, p: Plan, cfg: EvalConfig) -> DataFrame:
        if isinstance(p, Scalar):
            g = grid_df(self.spark, cfg)
            return g.select(
                F.lit("").alias("name"),
                EMPTY_LABELS().alias("labels"),
                F.col("ts"),
                p.fn(F.col("ts")).cast("double").alias("value"),
            ).filter(F.col("value").isNotNull())
        return p

    def const_value(self, e: Expr, cfg: EvalConfig) -> float:
        # `end() offset 10m`-style: a bare offset around a scalar shifts
        # its value back (used in `@` modifiers, eval.go adjusting the
        # at-timestamp by the offset)
        if (
            isinstance(e, RollupExpr)
            and e.window is None
            and e.step is None
            and e.at is None
            and e.offset is not None
        ):
            return self.const_value(e.expr, cfg) - e.offset.ms(cfg.step) / 1000.0
        p = self.plan(e, cfg)
        if isinstance(p, Scalar):
            if p.const is not None:
                return p.const
            # composed scalar (e.g. ttf's clamp_max(step()/300, 1)):
            # evaluate the column at three grid points in one 1-row job;
            # identical values ⇒ grid-independent constant
            mid = cfg.start + ((cfg.end - cfg.start) // (2 * cfg.step)) * cfg.step
            row = (
                self.spark.range(1)
                .select(
                    *[
                        p.fn(F.lit(t).cast("long")).cast("double").alias(f"v{i}")
                        for i, t in enumerate((cfg.start, mid, cfg.end))
                    ]
                )
                .first()
            )
            vals = {row[f"v{i}"] for i in range(3)}
            if len(vals) == 1:
                v = vals.pop()
                if v is not None:
                    return float(v)
        raise PlanError(f"expected a constant scalar argument, got {e!r}")

    def at_value(self, e: Expr, cfg: EvalConfig) -> float:
        """Resolve an `@` modifier expression to seconds
        (eval.go:905-932): constants stay driver-side; any other
        expression is evaluated over the query range and must yield
        exactly one series with a non-NaN value (first non-NaN wins) —
        `vector(1) @ up` works, `@ <all-NaN series>` errors with the
        reference's message."""
        import math as _math

        try:
            return self.const_value(e, cfg)
        except PlanError:
            pass
        df = self.materialize(self.plan(e, cfg), cfg)
        # probe series cardinality with ONE scalar aggregate before
        # materializing anything: a high-cardinality expression after
        # `@` (e.g. `foo @ up`) must fail the single-series check
        # without shipping its rows to the driver
        series_key = F.array_sort(
            F.map_entries(F.coalesce(F.col("labels"), F.expr("map()")))
        )
        n = df.select(
            F.count_distinct(F.col("name"), series_key).alias("n")
        ).first()["n"]
        if n == 0:
            # the row model drops all-NaN series (a marker-only series
            # in VM evaluates to one all-NaN series here it is absent),
            # so an empty result maps to the no-usable-value error
            raise PlanError("`@` modifier must return a non-NaN value")
        if n != 1:
            raise PlanError(
                "`@` modifier must return a single series; "
                f"it returns {n} series instead"
            )
        # single series: first non-NaN value by timestamp, resolved
        # executor-side (limit 1 — the driver never sees the grid)
        rows = (
            df.select("ts", "value")
            .filter(F.col("value").isNotNull() & ~F.isnan("value"))
            .orderBy("ts")
            .limit(1)
            .collect()
        )
        if not rows:
            raise PlanError("`@` modifier must return a non-NaN value")
        return float(rows[0]["value"])

    # ------------------------------------------------------------ dispatch
    def plan(self, e: Expr, cfg: EvalConfig) -> Plan:
        """Common-subexpression cache around _plan_inner: repeated subtrees
        (e.g. both sides of `q / q` shapes, eval.go:598-648
        shouldOptimizeRepeatedBinaryOpSubexprs) return the SAME DataFrame
        object, so Catalyst sees identical logical subtrees and can emit
        ReusedExchange instead of recomputing."""
        if isinstance(
            e, (MetricExpr, RollupExpr, FuncExpr, AggrFuncExpr, BinaryOpExpr)
        ):
            key = (repr(e), cfg.start, cfg.end, cfg.step)
            hit = self._cse.get(key)
            if hit is not None:
                return hit
            result = self._plan_inner(e, cfg)
            if isinstance(result, DataFrame):
                self._cse[key] = result
            return result
        return self._plan_inner(e, cfg)

    def _plan_inner(self, e: Expr, cfg: EvalConfig) -> Plan:
        if isinstance(e, NumberExpr):
            return Scalar.of(e.value)
        if isinstance(e, DurationExpr):
            # duration used in scalar context = seconds (MetricsQL)
            return Scalar.of(e.ms(cfg.step) / 1000.0)
        if isinstance(e, StringExpr):
            # a string in series position: numeric → constant series,
            # non-numeric → empty result (eval.go evalString semantics;
            # exec_test `median_over_time("foo")` returns no series)
            try:
                return Scalar.of(float(e.value))
            except ValueError:
                return Scalar(fn=lambda ts: F.lit(None).cast("double"))
        if isinstance(e, MetricExpr):
            return self.plan(
                FuncExpr(name="default_rollup", args=[RollupExpr(expr=e)]), cfg
            )
        if isinstance(e, RollupExpr):
            # bare m[5m] at top level → default_rollup over it
            return self.plan(FuncExpr(name="default_rollup", args=[e]), cfg)
        if isinstance(e, FuncExpr):
            if is_rollup_func(e.name):
                at_handled = self.plan_at_modifier(e, cfg)
                if at_handled is not None:
                    return at_handled
                if self.leaf_cache is not None:
                    fast = self._plan_instant_delta(e, cfg)
                    if fast is not None:
                        return fast
                if self.leaf_cache is not None and self._leaf_cacheable(e):
                    return self.leaf_cache.get_or_eval(
                        repr(e),
                        cfg,
                        lambda c, e=e: self.materialize(
                            self.plan_rollup_func(e, c), c
                        ),
                        fingerprint=self._samples_fingerprint(),
                    )
                return self.plan_rollup_func(e, cfg)
            return transform_mod.plan_transform(self, e, cfg)
        if isinstance(e, AggrFuncExpr):
            return aggr_mod.plan_aggr(self, e, cfg)
        if isinstance(e, BinaryOpExpr):
            return binop_mod.plan_binop(self, e, cfg)
        raise PlanError(f"cannot plan {e!r}")

    # -------------------------------------------- instant delta fast path
    def _plan_instant_delta(self, fe: FuncExpr, cfg: EvalConfig):
        """Instant-query delta fast path (evalInstantRollup,
        eval.go:1176-1536): ``sum/count/min/max_over_time(m[big_d]) @ t``
        reuses the cached instant values at a nearby timestamp, adjusted
        with two boundary windows of size ``t − cached_t`` — see
        engine/cache.py InstantValuesCache. Returns None when the fast
        path doesn't apply (the caller falls through to the normal
        plan)."""
        from victoriametrics_spark.engine.cache import InstantValuesCache

        name = fe.name
        families = InstantValuesCache.ADDITIVE | InstantValuesCache.EXTREMUM
        if name not in families or len(fe.args) != 1:
            return None
        if cfg.start != cfg.end:
            return None
        a = fe.args[0]
        if not (
            isinstance(a, RollupExpr)
            and isinstance(a.expr, MetricExpr)
            and a.window is not None
            and a.offset is None
            and a.at is None
            and a.step is None
        ):
            return None
        window_ms = a.window.ms(cfg.step)
        inst = self.leaf_cache.instant_values()

        def cold() -> DataFrame:
            # direct plan construction — no instant re-entry
            return self.materialize(self.plan_rollup_func(fe, cfg), cfg)

        def build_template(intervals) -> DataFrame:
            """Entry-constant BASE of the boundary-window plan: selector
            scan (enforced filters + dedup-on-read, :meth:`scan`),
            staleness-marker drop (as prepare_rollup_input), series key,
            and the literal two-interval envelope parquet pushdown
            prunes on. Built once per instant-cache entry and reused
            across refreshes (InstantValuesCache._boundary_frames)."""
            from victoriametrics_spark.schema import series_key

            base = self.scan(a.expr)
            if "is_stale" in base.columns:
                base = base.filter(
                    ~F.coalesce(F.col("is_stale"), F.lit(False))
                )
            if "__series_key" not in base.columns:
                base = base.withColumn(
                    "__series_key",
                    series_key(F.col("name"), F.col("labels")),
                )
            env = F.lit(False)
            for lo, hi in intervals:
                env = env | (
                    (F.col("ts") > F.lit(int(lo)))
                    & (F.col("ts") <= F.lit(int(hi)))
                )
            return base.filter(env)

        def apply_template(base: DataFrame, bounds) -> DataFrame:
            """Per-refresh tail over the cached base: explode the two
            literal (lo, hi, out_ts) bound structs, filter membership,
            then aggregate/finalize straight from the ROLLUPS spec
            registry (same aggs/post/keep-name the cold plan uses —
            nothing re-derived)."""
            spec = ROLLUPS[name]
            args_ = RollupArgs(
                window_ms=window_ms, step_ms=cfg.step, scalars=[]
            )
            bnd = F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(int(lo)).alias("lo"),
                            F.lit(int(hi)).alias("hi"),
                            F.lit(int(out)).alias("out_ts"),
                        )
                        for lo, hi, out in bounds
                    ]
                )
            )
            rows = base.select("*", bnd.alias("__b")).filter(
                (F.col("ts") > F.col("__b.lo"))
                & (F.col("ts") <= F.col("__b.hi"))
            )
            grouped = rows.groupBy("__series_key", "__b.out_ts").agg(
                F.first("name").alias("name"),
                F.first("labels").alias("labels"),
                *spec.aggs(args_),
            )
            keep = (
                spec.keep_name
                or fe.keep_metric_names
                or a.keep_metric_names
            )
            out = grouped.select(
                (F.col("name") if keep else F.lit("")).alias("name"),
                F.col("labels"),
                F.col("out_ts").alias("ts"),
                spec.post(args_).cast("double").alias("value"),
            )
            return out.filter(
                F.col("value").isNotNull() & ~F.isnan(F.col("value"))
            )

        return inst.get_or_eval(
            name,
            repr(fe),
            window_ms,
            cfg,
            cold,
            self._samples_fingerprint(),
            build_template,
            apply_template,
        )

    # ------------------------------------------------------------- leaves
    def _leaf_cacheable(self, fe: FuncExpr) -> bool:
        """A rollup leaf is cacheable when its series argument is a plain
        selector (no subquery — the child range would depend on the query
        range), every other argument is a literal (so ``repr(fe)`` fully
        determines the result at each grid point), and its values do not
        depend on the range-end-sensitive scrape-interval estimate
        (engine/cache.py estimate_dependent) — unless the leaf cache was
        built with ``accept_estimate_drift=True``, which replicates VM's
        own behavior of caching rate leaves and re-estimating over the
        suffix fetch (rollup_result_cache.go:283). Forward-looking
        rollups stay excluded in both modes."""
        from victoriametrics_spark.engine.cache import (
            estimate_dependent,
            forward_looking,
        )

        if forward_looking(fe.name):
            return False
        drift_ok = getattr(self.leaf_cache, "accept_estimate_drift", False)
        if estimate_dependent(fe) and not drift_ok:
            return False
        for a in fe.args:
            if isinstance(a, (NumberExpr, StringExpr, DurationExpr)):
                continue
            if isinstance(a, MetricExpr):
                continue
            if (
                isinstance(a, RollupExpr)
                and a.step is None
                and a.at is None
                and isinstance(a.expr, MetricExpr)
            ):
                continue
            return False
        return True

    def scan(self, me: MetricExpr) -> DataFrame:
        """Selector → filtered raw samples (predicate pushdown to parquet),
        with enforced extra filters (EnforcedTagFilterss,
        eval.go:144-146) and optional dedup-on-read
        (-dedup.minScrapeInterval analog)."""
        out = self.samples.filter(selector_predicate(me))
        groups = self.cfg.enforced_groups()
        if groups:
            from victoriametrics_spark.metricsql.ast import LabelFilter

            enforced = MetricExpr(
                label_filterss=[
                    [
                        LabelFilter(label=lb, op=op, value=v)
                        for lb, op, v in g
                    ]
                    for g in groups
                ]
            )
            out = out.filter(selector_predicate(enforced))
        if self.cfg.dedup_interval_ms > 0:
            from victoriametrics_spark.streaming.streamaggr import dedup_samples

            out = dedup_samples(out, self.cfg.dedup_interval_ms)
        if (
            self.cfg.max_unique_timeseries > 0
            or self.cfg.max_samples_per_query > 0
            or self.cfg.max_samples_per_series > 0
        ):
            self._check_scan_limits(out)
        return out

    def _check_scan_limits(self, scanned: DataFrame) -> None:
        """-search.maxUniqueTimeseries / maxSamplesPerQuery /
        maxSamplesPerSeries: fail over-broad selector scans
        (errTooManyTimeseries, lib/storage/index_db.go:2211-2216;
        netstorage.go:1114, :464). ONE probe aggregation computes all
        three measures, bounded to the query range plus a day of
        lookback — date-partition pruning keeps it cheap."""
        from victoriametrics_spark.schema import series_key

        cfg = self.cfg
        lo = cfg.start - cfg.max_lookback - 86_400_000
        probe = scanned.filter(
            (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(cfg.end))
        )
        # multitenant reads carry vm_account_id/vm_project_id labels and
        # VM splits such queries per tenant, so the series limit binds
        # the per-tenant count (query_resource_limit_test.go:79-96); on
        # single-tenant frames both keys are null — one global group
        probe_key = (
            F.col("__series_key")
            if "__series_key" in probe.columns
            else series_key(F.col("name"), F.col("labels"))
        )
        per_series = probe.groupBy(
            F.col("labels").getItem("vm_account_id").alias("__a"),
            F.col("labels").getItem("vm_project_id").alias("__p"),
            probe_key.alias("__k"),
        ).agg(F.count(F.lit(1)).alias("__c"))
        per_tenant = per_series.groupBy("__a", "__p").agg(
            F.count(F.lit(1)).alias("__series"),
            F.sum("__c").alias("__samples"),
            F.max("__c").alias("__maxper"),
        )
        row = per_tenant.agg(
            F.max("__series").alias("s"),
            F.sum("__samples").alias("t"),
            F.max("__maxper").alias("m"),
        ).first()
        n_series = int(row["s"] or 0)
        n_samples = int(row["t"] or 0)
        max_per = int(row["m"] or 0)
        if 0 < cfg.max_unique_timeseries < n_series:
            raise PlanError(
                f"the number of matching timeseries exceeds "
                f"{cfg.max_unique_timeseries}; either narrow down the "
                "search or increase -search.max* command-line flag "
                "values (the most likely limit is "
                "-search.maxUniqueTimeseries)"
            )
        if 0 < cfg.max_samples_per_query < n_samples:
            raise PlanError(
                "cannot select more than -search.maxSamplesPerQuery="
                f"{cfg.max_samples_per_query} samples; possible "
                "solutions: increase the -search.maxSamplesPerQuery, "
                "reduce the time range for the query"
            )
        if 0 < cfg.max_samples_per_series < max_per:
            raise PlanError(
                "cannot process more than "
                f"{cfg.max_samples_per_series} samples per series; "
                "either increase -search.maxSamplesPerSeries or reduce "
                "time range for the query"
            )

    # ------------------------------------------------------------- rollups
    def plan_rollup_func(self, fe: FuncExpr, cfg: EvalConfig) -> Plan:
        name = fe.name
        if name in PLANNER_LEVEL_ROLLUPS:
            return self.plan_special_rollup(fe, cfg)
        if name in SPAN_ROLLUPS or name in ELIGIBILITY_ROLLUPS:
            return self.plan_span_rollup(fe, cfg)
        spec = ROLLUPS.get(name)
        if spec is None:
            raise PlanError(f"rollup function {name!r} not implemented")
        lo, hi = ROLLUP_ARITY.get(name, (1, 1))
        if not (lo <= len(fe.args) <= hi):
            want = str(lo) if lo == hi else f"{lo}..{hi}"
            raise PlanError(
                f"{name}: unexpected number of args {len(fe.args)}; want {want}"
            )
        idx = ROLLUP_ARG_IDX.get(name, 0)
        if idx >= len(fe.args):
            raise PlanError(f"{name}: missing series argument")
        series_arg = fe.args[idx]
        scalars = [
            self.const_value(a, cfg)
            for j, a in enumerate(fe.args)
            if j != idx and not isinstance(a, StringExpr)
        ]
        re_ = (
            series_arg
            if isinstance(series_arg, RollupExpr)
            else RollupExpr(expr=series_arg)
        )
        if re_.at is not None:
            raise PlanError("@ modifier not supported yet")
        offset_ms = re_.offset.ms(cfg.step) if re_.offset else 0
        window_ms = re_.window.ms(cfg.step) if re_.window else None
        raw, window_ms = self.rollup_input(re_, window_ms, offset_ms, cfg, name)
        if name == "default_rollup" and "is_stale" in raw.columns:
            # Prometheus staleness detection (dropStaleNaNs,
            # eval.go:2108-2115): default_rollup is the ONE single-output
            # rollup that KEEPS staleness markers — as NaN samples — so a
            # marker newer than the last real sample becomes the "last
            # value" and the terminal NaN filter omits the point, exactly
            # VM terminating a series at its marker. Every other rollup
            # gets markers dropped (prepare_rollup_input).
            raw = raw.withColumn(
                "value",
                F.when(
                    F.coalesce(F.col("is_stale"), F.lit(False)),
                    F.lit(float("nan")),
                ).otherwise(F.col("value")),
            ).withColumn("is_stale", F.lit(False))
        # implicit-window widening for the adjustable functions remaining
        # in this path (deriv — regression over the widened per-series
        # window, rollup.go:747-756); the counter family routes through
        # plan_span_rollup instead
        window_col = None
        if re_.window is None and name in ADJUST_WINDOW:
            raw = attach_widened_window(raw, cfg, offset_ms)
            window_col = "__win"
        a = RollupArgs(window_ms=window_ms, step_ms=cfg.step, scalars=scalars)
        k, rem = divmod(window_ms, cfg.step)
        if (
            spec.prefix is not None
            and window_ms > cfg.two_level_cutover * cfg.step
        ):
            # prefix-sum marker plan (engine/prefix.py): rows bounded by
            # samples + 2·grid — output-optimal at ANY window/step ratio,
            # and no window-divisibility requirement
            grouped = prefix_rollup(
                raw,
                cfg,
                window_ms,
                offset_ms,
                spec.prefix.contribs(a),
                needs_prev=spec.needs_prev,
            ).select(
                "__series_key",
                "name",
                "labels",
                "i",
                "gts",
                *spec.prefix.finalize(a),
            )
        elif (
            spec.two_level is not None
            and rem == 0
            and k > cfg.two_level_cutover
        ):
            # wide-window/fine-step cutover: bucket partials + merge —
            # shuffle amplification drops from k× per sample to k× per
            # (series, step-bucket) partial (grid.py prepare_step_buckets)
            bucketed = prepare_step_buckets(
                raw, cfg, window_ms, offset_ms,
                needs_prev=spec.needs_prev, needs_fwd=spec.needs_fwd,
            )
            partials = bucketed.groupBy("__series_key", "b").agg(
                F.first("name").alias("name"),
                F.first("labels").alias("labels"),
                *spec.two_level.partials(a),
            )
            exploded = explode_bucket_partials(partials, cfg, k)
            grouped = (
                exploded.groupBy("__series_key", "i")
                .agg(
                    F.first("name").alias("name"),
                    F.first("labels").alias("labels"),
                    *spec.two_level.merges(a),
                )
                .withColumn(
                    "gts", F.lit(cfg.start) + F.col("i") * F.lit(cfg.step)
                )
            )
        else:
            prepared = prepare_rollup_input(
                raw, cfg, window_ms, offset_ms,
                needs_prev=spec.needs_prev, needs_fwd=spec.needs_fwd,
                window_col=window_col,
            )
            grouped = (
                prepared.groupBy("__series_key", "i")
                .agg(
                    F.first("name").alias("name"),
                    F.first("labels").alias("labels"),
                    *spec.aggs(a),
                )
                .withColumn(
                    "gts", F.lit(cfg.start) + F.col("i") * F.lit(cfg.step)
                )
            )
        keep = spec.keep_name or fe.keep_metric_names or re_.keep_metric_names
        if (
            cfg.start >= cfg.end
            and fe.name == "avg_over_time"
            and not fe.keep_metric_names
            and not re_.keep_metric_names
            and window_ms >= 3 * 3600 * 1000
        ):
            # VM rewrites big-window instant avg_over_time to
            # sum_over_time/count_over_time (evalInstantRollup,
            # eval.go: 'optimized calculation for instant rollup
            # avg_over_time'); the division is a binary op, so the
            # metric name is erased — observable user behavior
            # (apptest issues/9762 expects Metric {})
            keep = False
        out = grouped.select(
            (F.col("name") if keep else F.lit("")).alias("name"),
            F.col("labels"),
            F.col("gts").alias("ts"),
            spec.post(a).cast("double").alias("value"),
        )
        return out.filter(F.col("value").isNotNull() & ~F.isnan(F.col("value")))

    def plan_span_rollup(self, fe: FuncExpr, cfg: EvalConfig) -> Plan:
        """rate/irate/increase/delta/deriv_fast family — VM's
        span-normalized semantics (engine/span.py): per-series
        scrape-interval estimate, prev-sample anchor with eligibility,
        implicit-window widening, empty-window ghost points."""
        name = fe.name
        if len(fe.args) != 1:
            raise PlanError(
                f"{name}: unexpected number of args {len(fe.args)}; want 1"
            )
        series_arg = fe.args[0]
        re_ = (
            series_arg
            if isinstance(series_arg, RollupExpr)
            else RollupExpr(expr=series_arg)
        )
        if re_.at is not None:
            raise PlanError("@ modifier not supported yet")
        offset_ms = re_.offset.ms(cfg.step) if re_.offset else 0
        explicit = re_.window is not None
        window_ms = re_.window.ms(cfg.step) if explicit else None
        raw, _resolved = self.rollup_input(re_, window_ms, offset_ms, cfg, name)
        keep = fe.keep_metric_names or re_.keep_metric_names
        return span_rollup(
            raw,
            cfg,
            name,
            window_ms if explicit else None,
            offset_ms,
            keep,
        )

    def rollup_input(
        self,
        re_: RollupExpr,
        window_ms: int | None,
        offset_ms: int,
        cfg: EvalConfig,
        func_name: str,
    ) -> tuple[DataFrame, int]:
        """Resolve the raw input samples for a rollup: either a selector scan
        or a recursively-evaluated subquery (eval.go:1033-1104)."""
        inner = re_.expr
        if isinstance(inner, MetricExpr):
            if window_ms is None:
                # window-default rules (rollup.go:747-756): a no-window
                # rollup looks back one step; rollupFuncsCanAdjustWindow
                # members (incl. default_rollup since round 8) widen to
                # the per-series max(step, maxPrevInterval) via the
                # __win column attached by the caller — the estimate
                # replaces the former constant max(step, 300s) lookback.
                window_ms = cfg.step
            return self.scan(inner), window_ms
        # subquery: evaluate inner expr on a finer child grid, then roll up.
        # Child bounds mirror evalRollupFuncWithSubquery (eval.go:1033):
        # start extended by window + child step + silence interval, and the
        # child grid is UNCONDITIONALLY aligned to absolute multiples of
        # the child step (alignStartEnd, eval.go:103-112) — this is what
        # makes non-step-multiple offsets land on the documented VM values.
        sub_step = re_.step.ms(cfg.step) if re_.step else cfg.step
        # the child fetch extends by the RAW window — 0 when empty
        # (evalRollupFuncWithSubquery: ecSQ.Start -= window +
        # maxSilenceInterval + step, with the step-default window
        # substituted only inside the rollup, rollup.go:747-756); using
        # the substituted default here would start the child grid one
        # outer step early, which shifts index-dependent inner series
        # (rand) by a full step
        fetch_window = window_ms if window_ms is not None else 0
        if window_ms is None:
            window_ms = cfg.step
        # rollup_candlestick evaluates on a one-step-shifted EvalConfig
        # (the automatic `offset -step`, eval.go:970-979); the rollup
        # window shift is baked into plan_multi_rollup, but the CHILD
        # grid bounds must mirror VM's shifted config — index-dependent
        # inner series (rand) key their draws off the child grid start
        shift = cfg.step if func_name == "rollup_candlestick" else 0
        raw_start = (
            cfg.start + shift - offset_ms - fetch_window - sub_step
            - cfg.max_lookback
        )
        raw_end = cfg.end + shift - offset_ms + sub_step
        start = raw_start - raw_start % sub_step  # floor to step multiple
        end = raw_end + (sub_step - raw_end % sub_step) % sub_step  # ceil
        child_cfg = EvalConfig(
            start=start,
            end=end,
            step=sub_step,
            max_lookback=cfg.max_lookback,
        )
        inner_df = self.materialize(self.plan(inner, child_cfg), child_cfg)
        # NaN points never reach a rollup (removeNanValues, eval.go:1077)
        inner_df = inner_df.filter(~F.isnan("value"))
        # the rollup's own offset shift happens in prepare_rollup_input; the
        # child range above is already shifted, so the shift maps it back
        return inner_df, window_ms

    # ------------------------------------------------------ `@` modifier
    def plan_at_modifier(self, fe: FuncExpr, cfg: EvalConfig) -> Plan | None:
        """`expr @ ts` — evaluate the rollup at the fixed timestamp, then
        broadcast the single-point result across the whole grid
        (eval.go:903-952). Returns None when no `@` is present."""
        from dataclasses import replace as _replace

        for idx, a in enumerate(fe.args):
            if isinstance(a, RollupExpr) and a.at is not None:
                at_s = self.at_value(a.at, cfg)
                at_ms = int(at_s * 1000)
                sub_cfg = EvalConfig(
                    start=at_ms,
                    end=at_ms,
                    step=cfg.step,
                    max_lookback=cfg.max_lookback,
                )
                stripped = FuncExpr(
                    name=fe.name,
                    args=[
                        _replace(x, at=None) if j == idx else x
                        for j, x in enumerate(fe.args)
                    ],
                    keep_metric_names=fe.keep_metric_names,
                )
                point = self.materialize(self.plan(stripped, sub_cfg), sub_cfg)
                g = grid_df(self.spark, cfg)
                return (
                    point.select("name", "labels", "value")
                    .crossJoin(g)
                    .select("name", "labels", "ts", "value")
                )
        return None

    # -------------------------------------------------- special rollups
    def plan_special_rollup(self, fe: FuncExpr, cfg: EvalConfig) -> Plan:
        from victoriametrics_spark.engine import multirollup as MR

        name = fe.name
        if name == "absent_over_time":
            return self.plan_absent_over_time(fe, cfg)
        if name in MR.MULTI_ROLLUPS:
            return MR.plan_multi_rollup(self, fe, cfg)
        if name == "quantiles_over_time":
            return MR.plan_quantiles_over_time(self, fe, cfg)
        if name == "count_values_over_time":
            return MR.plan_count_values_over_time(self, fe, cfg)
        if name == "histogram_over_time":
            return MR.plan_histogram_over_time(self, fe, cfg)
        if name == "aggr_over_time":
            return MR.plan_aggr_over_time(self, fe, cfg)
        if name == "holt_winters":
            return MR.plan_holt_winters(self, fe, cfg)
        if name == "stale_samples_over_time":
            return MR.plan_stale_samples_over_time(self, fe, cfg)
        raise PlanError(f"rollup function {name!r} not implemented yet")

    def plan_absent_over_time(self, fe: FuncExpr, cfg: EvalConfig) -> Plan:
        """1 at grid points where no sample exists in the window
        (emits label set from equality filters of the selector, like VM)."""
        re_ = fe.args[0]
        if not isinstance(re_, RollupExpr):
            re_ = RollupExpr(expr=re_)
        window_ms = re_.window.ms(cfg.step) if re_.window else cfg.step
        offset_ms = re_.offset.ms(cfg.step) if re_.offset else 0
        raw, window_ms = self.rollup_input(re_, window_ms, offset_ms, cfg, fe.name)
        prepared = prepare_rollup_input(raw, cfg, window_ms, offset_ms)
        covered = prepared.select("i").distinct()
        g = self.spark.range(cfg.num_points).select(F.col("id").alias("i"))
        missing = g.join(covered, "i", "left_anti")
        labels = EMPTY_LABELS()
        # getAbsentTimeseries copies `=` filters only when the selector
        # has exactly ONE filter group (transform.go:247-250 — OR-group
        # selectors copy nothing)
        if (
            isinstance(re_.expr, MetricExpr)
            and len(re_.expr.label_filterss) == 1
        ):
            eq = [
                (f.label, f.value)
                for f in re_.expr.label_filterss[0]
                if f.op == "=" and f.label != "__name__"
            ]
            if eq:
                pairs = []
                for k, v in eq:
                    pairs += [F.lit(k), F.lit(v)]
                labels = F.create_map(*pairs)
        return missing.select(
            F.lit("").alias("name"),
            labels.alias("labels"),
            (F.lit(cfg.start) + F.col("i") * F.lit(cfg.step)).alias("ts"),
            F.lit(1.0).alias("value"),
        )


def evaluate(
    spark: SparkSession,
    query: str | Expr,
    samples: DataFrame,
    cfg: EvalConfig,
    use_plan_cache: bool = True,
) -> DataFrame:
    """Evaluate a MetricsQL range query over a sample DataFrame.

    Returns DataFrame(name, labels, ts, value) on the grid
    [cfg.start..cfg.end] step cfg.step.

    Repeated (query, cfg, input) triples reuse the analyzed plan from
    the process-wide LRU (engine/plancache.py — parse_cache.go analog
    below the API layer); each call still executes fresh, and the key's
    file-staleness token guarantees a cache hit only while the scanned
    files are byte-identical.
    """
    from victoriametrics_spark.engine.plancache import GLOBAL_PLAN_CACHE

    key = None
    if use_plan_cache:
        k = GLOBAL_PLAN_CACHE.key_for(query, samples, cfg)
        if k is not None:
            key = (id(spark), k)
            hit = GLOBAL_PLAN_CACHE.get(key)
            if hit is not None:
                return hit
        else:
            GLOBAL_PLAN_CACHE.stats["bypass"] += 1
    out = Planner(spark, samples, cfg).plan_query(query)
    if key is not None:
        GLOBAL_PLAN_CACHE.put(key, out)
    return out
