"""Prometheus-compatible HTTP API (SURVEY.md §3) — the reference's
primary user surface, rebuilt over the Spark engine.

Endpoints mirror app/vmselect/prometheus/prometheus.go:
  GET /api/v1/query          (QueryHandler, prometheus.go:767)
  GET /api/v1/query_range    (QueryRangeHandler, prometheus.go:925)
  GET /api/v1/series
  GET /api/v1/labels
  GET /api/v1/label/<name>/values
  GET /api/v1/export         (VM JSONL, app/vmselect/main.go:255)
  GET /federate              (latest points in exposition format)

The handler layer is a plain library class (``PromAPI``) returning JSON-
serializable dicts, so it can sit behind any server; ``serve()`` wraps it
in a stdlib ThreadingHTTPServer for a dependency-free deployment. An
instant query is a range query with ``start == end``
(EvalConfig{Start==End}, eval.go:115-118).
"""

from __future__ import annotations

import json
import math
import re
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.engine.planner import evaluate
from victoriametrics_spark.metricsql.ast import DurationExpr
from victoriametrics_spark.session import codegen_compilations

DEFAULT_STEP_MS = 300_000  # 5m, prometheus.go:72
# -search.latencyOffset default (prometheus.go:38): samples younger than
# this are considered possibly-incomplete, so default-time instant queries
# evaluate at now − offset
LATENCY_OFFSET_MS = 30_000
# -search.maxStepForPointsAdjustment (prometheus.go:50): query_range only
# freezes the trailing possibly-incomplete points when step < this
MAX_STEP_FOR_POINTS_ADJUSTMENT_MS = 60_000


def _now_ms() -> int:
    """Current wall clock in ms (`ct` in every reference handler);
    module-level so tests can monkeypatch a fixed "now"."""
    import time as _time

    return int(_time.time() * 1000)


def _round_to_decimal_digits(v: float, digits: int) -> float:
    """decimal.RoundToDecimalDigits (lib/decimal/decimal.go:325-335):
    round half-away-from-zero to `digits` places; |digits| >= 100 and
    NaN pass through untouched."""
    if digits <= -100 or digits >= 100 or math.isnan(v):
        return v
    m = 10.0 ** digits
    s = v * m
    if math.isinf(s):
        return v
    return math.floor(s + 0.5) / m if s >= 0 else math.ceil(s - 0.5) / m


def _adjust_last_points(pts: list, start: int, end: int) -> list:
    """adjustLastPoints (prometheus.go:1073-1099): points landing in
    (start, end] may be incomplete (scraped mid-interval), so freeze
    them to the last value at or before `start`. A series whose last
    timestamp exceeds `end` (offset query shifting past now) is left
    untouched. `pts` is the sorted [(ts, value)] of one series."""
    if not pts:
        return pts
    if pts[-1][0] > end:
        return pts
    j = len(pts) - 1
    while j >= 0 and pts[j][0] > start:
        j -= 1
    j += 1
    last_value = pts[j - 1][1] if j > 0 else float("nan")
    out = list(pts)
    while j < len(out) and out[j][0] <= end:
        out[j] = (out[j][0], last_value)
        j += 1
    return out


def _enforced_expr(enforced):
    """Enforced filter groups → a MetricExpr whose OR-groups mirror
    JoinTagFilterss (flat triples accepted as one group)."""
    from victoriametrics_spark.metricsql.ast import LabelFilter, MetricExpr

    groups = (
        (tuple(enforced),)
        if enforced and isinstance(enforced[0][0], str)
        else enforced
    )
    return MetricExpr(
        label_filterss=[
            [LabelFilter(label=lb, op=op, value=v) for lb, op, v in g]
            for g in groups
        ]
    )


def _parse_time(v: str | None, default_ms: int) -> int:
    """Unix timestamp or RFC3339 (lib/timeutil/time.go ParseTimeMsec;
    Grafana sends RFC3339 for absolute ranges). Numeric timestamps
    auto-detect the unit by magnitude — seconds, milliseconds,
    microseconds, or nanoseconds (getUnixTimestampMultiplier,
    time.go:348-363: ranges bounded by MaxInt64/1e9, /1e6, /1e3)."""
    if v is None or v == "":
        return default_ms
    try:
        f = float(v)
        n = abs(f)
        if n <= 9223372036:  # MaxInt64 / 1e9 → seconds
            return int(round(f * 1000))
        if n <= 9223372036854:  # MaxInt64 / 1e6 → milliseconds
            return int(round(f))
        if n <= 9223372036854775:  # MaxInt64 / 1e3 → microseconds
            return int(round(f / 1e3))
        return int(round(f / 1e6))  # nanoseconds
    except ValueError:
        from datetime import datetime, timezone

        t = datetime.fromisoformat(v.replace("Z", "+00:00"))
        if t.tzinfo is None:
            t = t.replace(tzinfo=timezone.utc)
        return int(t.timestamp() * 1000)


def _adjust_start_end(start: int, end: int, step: int) -> tuple[int, int]:
    """promql.AdjustStartEnd (eval.go:77-101): round start/end to step
    multiples so responses are cacheable, keeping the point count — only
    for >= 50-point queries, and skipped entirely with ?nocache=1."""
    points = (end - start) // step + 1
    if points < 50:  # minTimeseriesPointsForTimeRounding
        return start, end
    start -= start % step
    adjust = end % step
    if adjust > 0:
        end += step - adjust
    while (end - start) // step + 1 > points:
        end -= step
    return start, end


def _round_digits(v: str | None) -> int:
    """getRoundDigits (prometheus.go:1132-1142): absent or unparsable
    `round_digits` means "don't round" (100)."""
    if not v:
        return 100
    try:
        return int(v)
    except ValueError:
        return 100


def _parse_step(v: str | None) -> int:
    if v is None or v == "":
        return DEFAULT_STEP_MS
    try:
        return int(float(v) * 1000)
    except ValueError:
        return DurationExpr(v).ms(DEFAULT_STEP_MS)


def _fmt_value(x: float) -> str:
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "+Inf" if x > 0 else "-Inf"
    return repr(x) if x != int(x) else str(int(x))


def _metric_obj(name: str, labels) -> dict:
    out = dict(labels or {})
    if name:
        out["__name__"] = name
    return out


# canonical tenant-token parsing lives with the storage layout (the
# partition value is the canonical form); re-exported here for callers
from victoriametrics_spark.storage.layout import parse_tenant  # noqa: E402


def with_tenant(df: DataFrame, tenant: str) -> DataFrame:
    """Tag rows with their tenant (ingest side: every write carries the
    URL-path tenant, app/vminsert/main.go multitenant routing)."""
    return df.withColumn("tenant", F.lit(parse_tenant(tenant)))


class _QueryTimeout(Exception):
    pass


class QueryTracer:
    """Query-trace tree — the querytracer analog (lib/querytracer; the
    reference attaches it to responses when ``trace=1``, e.g.
    prometheus.go QueryHandler). Spans nest; serialization matches VM's
    shape: {"duration_msec", "message", "children"}."""

    def __init__(self, message: str):
        import time as _time

        self.message = message
        self.children: list = []
        self._t0 = _time.perf_counter()
        self._dur: float | None = None

    def span(self, message: str) -> "QueryTracer":
        child = QueryTracer(message)
        self.children.append(child)
        return child

    def done(self) -> None:
        import time as _time

        if self._dur is None:
            self._dur = _time.perf_counter() - self._t0

    def __enter__(self) -> "QueryTracer":
        return self

    def __exit__(self, *exc) -> None:
        self.done()

    def to_dict(self) -> dict:
        self.done()
        out = {
            "duration_msec": round(self._dur * 1000.0, 3),
            "message": self.message,
        }
        if self.children:
            out["children"] = [c.to_dict() for c in self.children]
        return out


def _parse_graphite_path(path: str) -> "tuple[str, dict]":
    """``metric;k=v;k2=v2`` → (metric, {tags}) — the graphite tagged-
    path format (lib/protoparser/graphite Row.UnmarshalMetricAndTags)."""
    parts = path.split(";")
    name = parts[0]
    if not name:
        raise ValueError(f"cannot parse path {path!r}: empty metric name")
    tags = {}
    for seg in parts[1:]:
        if "=" not in seg:
            raise ValueError(
                f"cannot parse path {path!r}: tag {seg!r} lacks '='"
            )
        k, v = seg.split("=", 1)
        if not k:
            raise ValueError(
                f"cannot parse path {path!r}: empty tag name in {seg!r}"
            )
        tags[k] = v
    return name, tags


class PromAPI:
    """Query-side API over a samples DataFrame (or table provider).

    ``tenant``: optional ``"accountID[:projectID]"`` scope — when the
    samples frame carries a ``tenant`` column (storage/layout.py writes
    it as the leading partition directory), every query is pruned to
    that tenant's partitions before anything else runs, mirroring VM's
    per-(AccountID, ProjectID) search isolation
    (lib/storage/search.go:327-337)."""

    def __init__(
        self,
        spark: SparkSession,
        samples: DataFrame,
        max_lookback_ms: int = 300_000,
        rule_groups: "list[tuple[str, list]] | None" = None,
        cache_dir: str | None = None,
        tenant: str | None = None,
        accept_estimate_drift: bool = False,
        samples_table: str | None = None,
        dedup_interval_ms: int = 0,
        max_unique_timeseries: int = 0,
        max_series: int = 0,
        max_samples_per_query: int = 0,
        max_samples_per_series: int = 0,
        max_points_per_timeseries: int = 30000,
        max_query_len: int = 16384,
        max_query_duration_ms: int = 0,
        track_metric_names: bool = False,
        names_tracker=None,
        downsampling_rules: "list | None" = None,
        latency_offset_ms: int = LATENCY_OFFSET_MS,
    ):
        self.spark = spark
        # -search.latencyOffset (prometheus.go:38, clamped non-negative
        # like getLatencyOffsetMilliseconds); per-query `latency_offset`
        # arg overrides it
        self.latency_offset_ms = max(int(latency_offset_ms), 0)
        # -downsampling.period flags (storage/downsample.py rules
        # shapes): exports without a `start` apply the BIGGEST
        # configured interval to their output (docs §Downsampling:
        # "Downsampling period changes /api/v1/export API output"),
        # unless reduce_mem_usage is set
        self.downsampling_rules = downsampling_rules
        # -search.maxUniqueTimeseries / -search.maxSeries analogs
        # (query selector scans / the /api/v1/series endpoint); 0 = off
        self.max_unique_timeseries = int(max_unique_timeseries)
        self.max_series = int(max_series)
        # -search.maxSamplesPerQuery / maxSamplesPerSeries: scanned-
        # sample caps sharing the series-limit probe; 0 = off
        self.max_samples_per_query = int(max_samples_per_query)
        self.max_samples_per_series = int(max_samples_per_series)
        # -search.maxPointsPerTimeseries (default 30e3): query_range
        # grids larger than this are rejected up front
        self.max_points_per_timeseries = int(max_points_per_timeseries)
        # -search.maxQueryLen (default 16KiB)
        self.max_query_len = int(max_query_len)
        # -search.maxQueryDuration analog: per-query wall-clock budget
        # enforced by cancelling the query's Spark job group (the
        # `timeout` query arg lowers it per request). 0 disables.
        self.max_query_duration_ms = int(max_query_duration_ms)
        # -dedup.minScrapeInterval analog: query-time dedup-on-read for
        # every eval AND raw export/series scan (lib/storage/dedup.go)
        self.dedup_interval_ms = int(dedup_interval_ms)
        if tenant is not None and "tenant" in samples.columns:
            samples = samples.filter(
                F.col("tenant") == parse_tenant(tenant)
            ).drop("tenant")
        elif "tenant" in samples.columns:
            samples = samples.drop("tenant")
        self.tenant = tenant
        self.samples = samples
        # backing table name — required only by delete_series (tombstones
        # live beside the table, storage/layout.py)
        self.samples_table = samples_table
        # in-process query registries for /api/v1/status/{top_queries,
        # active_queries} (VM: querystats package + promql.ActiveQueries).
        # Bounded like -search.queryStats.lastQueriesCount (default
        # 20000): a long-running server must not grow one entry per
        # distinct (query, range) forever.
        self._query_stats: dict = {}
        self._query_stats_cap = 20000
        self._active: dict = {}
        # handlers run on concurrent ThreadingHTTPServer threads — the
        # pop/reinsert LRU update and cap eviction must not race
        # (querystats.go guards its list with a mutex the same way)
        import threading as _threading

        self._stats_lock = _threading.Lock()
        # metric-name usage tracker for /api/v1/status/metric_names_stats
        # (VM: lib/storage/metricnamestats behind
        # -storage.trackMetricNamesStats). track_metric_names=True adds
        # the VM-exact per-matched-series counting (one probe job per
        # query leaf); default counts query MENTIONS (parse-level, free)
        if names_tracker is None:
            from victoriametrics_spark.storage.namestats import (
                MetricNamesTracker,
            )

            names_tracker = MetricNamesTracker()
        self.names_tracker = names_tracker
        self.track_metric_names = bool(track_metric_names)
        self.max_lookback_ms = max_lookback_ms
        # [(group_name, [RecordingRule | AlertingRule, ...])]
        self.rule_groups = rule_groups or []
        # optional rollup result cache (engine/cache.py): repeated
        # dashboard range queries recompute only the missing suffix
        self.cache = None
        if cache_dir:
            from victoriametrics_spark.engine.cache import RollupResultCache

            # accept_estimate_drift=True opts into VM's own leaf-caching
            # behavior for the rate/deriv span family (see engine/cache.py)
            self.cache = RollupResultCache(
                spark, cache_dir, accept_estimate_drift=accept_estimate_drift
            )

    # ----------------------------------------------------------- queries
    @staticmethod
    def enforced_from_params(
        extra_labels: "list[str] | None",
        extra_filters: "list[str] | None",
    ) -> tuple:
        """``extra_label=k=v`` + ``extra_filters[]={selector}`` →
        enforced (label, op, value) tuples (searchutil
        GetExtraTagFilters / EnforcedTagFilterss — the vmgateway
        multi-tenant isolation params, applied to every select query)."""
        from victoriametrics_spark.metricsql import parse
        from victoriametrics_spark.metricsql.ast import MetricExpr

        base: list = []
        for el in extra_labels or []:
            if "=" not in el:
                raise ValueError(
                    f"missing '=' in extra_label={el!r}; want label=value"
                )
            k, v = el.split("=", 1)
            base.append((k, "=", v))
        # multiple extra_filters[] params are ALTERNATIVES (OR), each
        # AND-combined with the extra_label set — JoinTagFilterss
        groups: list = []
        for ef in extra_filters or []:
            e = parse(ef)
            if not isinstance(e, MetricExpr) or len(e.label_filterss) != 1:
                raise ValueError(
                    f"extra_filters[] must be a plain series selector "
                    f"(no OR groups): {ef!r}"
                )
            groups.append(
                tuple(base)
                + tuple(
                    (f.label, f.op, f.value) for f in e.label_filterss[0]
                )
            )
        if not groups:
            return (tuple(base),) if base else ()
        return tuple(groups)

    def _eval(
        self,
        query: str,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        tracer: "QueryTracer | None" = None,
        enforced: tuple = (),
        lookback_delta_ms: int = 0,
        timeout_ms: int = 0,
    ):
        import time as _time
        import uuid as _uuid

        if 0 < self.max_query_len < len(query.encode()):
            # prometheus.go:795/968
            raise ValueError(
                f"too long query; got {len(query.encode())} bytes; "
                "mustn't exceed `-search.maxQueryLen="
                f"{self.max_query_len}` bytes"
            )
        qid = _uuid.uuid4().hex[:16]
        with self._stats_lock:
            self._active[qid] = {
                "query": query,
                "start": start_ms,
                "end": end_ms,
                "step": step_ms,
                "t0": _time.time(),
            }
        # effective deadline: the smaller of the flag and the request's
        # `timeout` arg (searchutil.GetDeadlineForQuery semantics)
        deadline_ms = self.max_query_duration_ms
        if timeout_ms > 0 and (deadline_ms <= 0 or timeout_ms < deadline_ms):
            deadline_ms = timeout_ms
        timer = None
        timed_out = {"hit": False}
        sc = self.spark.sparkContext
        if deadline_ms > 0:
            import threading as _threading

            sc.setJobGroup(qid, f"query: {query[:200]}", True)

            def _cancel():
                timed_out["hit"] = True
                try:
                    sc.cancelJobGroup(qid)
                except Exception:
                    pass

            timer = _threading.Timer(deadline_ms / 1000.0, _cancel)
            timer.daemon = True
            timer.start()
        try:
            self._track_metric_names(query, start_ms, end_ms)
            out = self._eval_inner(
                query, start_ms, end_ms, step_ms, tracer, enforced,
                lookback_delta_ms,
            )
            # the cancel only reaches RUNNING jobs — a deadline that
            # fired during driver-side planning (or between jobs) still
            # fails the query here
            if timed_out["hit"] or (
                deadline_ms > 0
                and (_time.time() - self._active[qid]["t0"]) * 1000
                > deadline_ms
            ):
                raise _QueryTimeout()
            return out
        except _QueryTimeout:
            raise ValueError(
                "timeout exceeded during query execution: "
                f"d={deadline_ms}ms (see -search.maxQueryDuration "
                "and the `timeout` query arg)"
            ) from None
        except Exception:
            if timed_out["hit"]:
                # netstorage.go:102 analog
                raise ValueError(
                    "timeout exceeded during query execution: "
                    f"d={deadline_ms}ms (see -search.maxQueryDuration "
                    "and the `timeout` query arg)"
                ) from None
            raise
        finally:
            if timer is not None:
                timer.cancel()
                sc.setLocalProperty("spark.jobGroup.id", None)
            with self._stats_lock:
                rec = self._active.pop(qid)
                dur = _time.time() - rec["t0"]
                key = (query, (end_ms - start_ms) // 1000)
                st = self._query_stats.pop(key, None) or [0, 0.0]
                st[0] += 1
                st[1] += dur
                # pop+reinsert keeps dict order = recency, so the cap
                # evicts the LEAST-RECENTLY-SEEN keys — a permanently-
                # hot dashboard query registered early must survive
                # churn from one-offs
                self._query_stats[key] = st
                if len(self._query_stats) > self._query_stats_cap:
                    drop = len(self._query_stats) - self._query_stats_cap
                    for k in list(self._query_stats)[:drop]:
                        del self._query_stats[k]

    def _eval_inner(
        self,
        query: str,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        tracer: "QueryTracer | None" = None,
        enforced: tuple = (),
        lookback_delta_ms: int = 0,
    ):
        cfg = EvalConfig(
            start=start_ms,
            end=end_ms,
            step=step_ms,
            max_lookback=self.max_lookback_ms,
            lookback_delta=lookback_delta_ms,
            dedup_interval_ms=self.dedup_interval_ms,
            enforced_filters=enforced,
            max_unique_timeseries=self.max_unique_timeseries,
            max_samples_per_query=self.max_samples_per_query,
            max_samples_per_series=self.max_samples_per_series,
        )
        plan_span = (
            tracer.span(
                f"eval: query={query!r}, timeRange=[{start_ms}..{end_ms}],"
                f" step={step_ms}"
            )
            if tracer
            else None
        )
        if self.cache is not None:
            df = self.cache.evaluate(query, self.samples, cfg)
        else:
            # plan caching (VM's parse-cache analog, parse_cache.go)
            # lives BELOW this layer since round 8: engine.planner
            # .evaluate consults the process-wide true-LRU plan cache
            # (engine/plancache.py), keyed on (canonical AST, EvalConfig,
            # input-plan semantic hash + file-staleness token) — so
            # repeated dashboard queries skip Catalyst construction here
            # AND for every other engine caller, and appends to the
            # backing table invalidate automatically.
            df = evaluate(self.spark, query, self.samples, cfg)
        if plan_span:
            plan_span.done()
        exec_span = tracer.span("execute plan + collect") if tracer else None
        rows = df.collect()
        if exec_span:
            exec_span.done()
        series: dict = {}
        for r in rows:
            key = (r["name"] or "", tuple(sorted((r["labels"] or {}).items())))
            pts = series.setdefault(key, {})
            if r["ts"] in pts:
                # two source series collapsed onto one output identity —
                # VM rejects at the same presentation boundary
                # (timeseriesToResult, exec.go:130-149), which keeps the
                # check O(result) instead of taxing every evaluation
                name, labels = key
                label_str = ",".join(f'{k}="{v}"' for k, v in labels)
                raise ValueError(
                    f"duplicate output timeseries: {name}{{{label_str}}}"
                )
            pts[r["ts"]] = r["value"]
        return {k: sorted(v.items()) for k, v in series.items()}

    def query_range(
        self,
        query: str,
        start: str | None,
        end: str | None,
        step: str | None = None,
        trace: bool = False,
        enforced: tuple = (),
        max_lookback: str | None = None,
        may_cache: bool = True,
        timeout: str | None = None,
        latency_offset: str | None = None,
        round_digits: int = 100,
    ) -> dict:
        # defaults: start = ct − 5m, end = ct (QueryRangeHandler,
        # prometheus.go:933-937); inverted ranges get end = start + 5m
        # (prometheus.go:970-972)
        ct = _now_ms()
        step_ms = _parse_step(step)
        start_ms = _parse_time(start, ct - DEFAULT_STEP_MS)
        end_ms = _parse_time(end, ct)
        if start_ms > end_ms:
            end_ms = start_ms + DEFAULT_STEP_MS
        # ValidateMaxPointsPerSeries (app/vmselect/promql/eval.go:62-72)
        if step_ms > 0 and self.max_points_per_timeseries > 0:
            points = (end_ms - start_ms) // step_ms + 1
            if points > self.max_points_per_timeseries:
                raise ValueError(
                    f"too many points for the given start={start_ms}, "
                    f"end={end_ms} and step={step_ms}: {points}; the "
                    "maximum number of points is "
                    f"{self.max_points_per_timeseries} (see "
                    "-search.maxPointsPerTimeseries command-line flag)"
                )
        if may_cache:
            start_ms, end_ms = _adjust_start_end(start_ms, end_ms, step_ms)
        # `max_lookback` = the LookbackDelta override (getMaxLookback,
        # prometheus.go:1101-1115); 0/absent = unset
        ld_ms = _parse_step(max_lookback) if max_lookback else 0
        tracer = (
            QueryTracer(f"/api/v1/query_range: query={query!r}")
            if trace
            else None
        )
        series = self._eval(
            query, start_ms, end_ms, step_ms, tracer, enforced,
            lookback_delta_ms=ld_ms,
            timeout_ms=_parse_step(timeout) if timeout else 0,
        )
        # trailing points younger than now − latencyOffset may be
        # incomplete — freeze them to the prior value when the step is
        # small enough to care (prometheus.go:1005-1013), then drop NaN
        # points / empty series like removeEmptyValuesAndTimeseries
        # (prometheus.go:1033-1071)
        adjust_lo = 0
        if step_ms < MAX_STEP_FOR_POINTS_ADJUSTMENT_MS:
            qo = (
                _parse_step(latency_offset)
                if latency_offset
                else self.latency_offset_ms
            )
            if ct - qo < end_ms:
                adjust_lo = ct - qo
        result = []
        for (name, labels), pts in sorted(series.items()):
            pts = sorted(pts)
            if adjust_lo:
                pts = _adjust_last_points(pts, adjust_lo, ct + step_ms)
            values = [
                [ts / 1000.0,
                 _fmt_value(_round_to_decimal_digits(v, round_digits))]
                for ts, v in pts
                if not math.isnan(v)
            ]
            if values:
                result.append(
                    {"metric": _metric_obj(name, dict(labels)),
                     "values": values}
                )
        out = {
            "status": "success",
            "data": {"resultType": "matrix", "result": result},
        }
        if tracer:
            out["trace"] = tracer.to_dict()
        return out

    def query(
        self,
        query: str,
        time: str | None = None,
        trace: bool = False,
        enforced: tuple = (),
        step: str | None = None,
        max_lookback: str | None = None,
        timeout: str | None = None,
        latency_offset: str | None = None,
        may_cache: bool = True,
        round_digits: int = 100,
    ) -> dict:
        # `time` defaults to ct = now (QueryHandler, prometheus.go:777)
        ct = _now_ms()
        t_ms = _parse_time(time, ct)
        # the instant-query step doubles as the bare-selector lookback:
        # step defaults to the LookbackDelta override, then 5m
        # (prometheus.go:781-791; rollup.go:723-727 instant
        # maxPrevInterval = step)
        ld_ms = _parse_step(max_lookback) if max_lookback else 0
        step_ms = _parse_step(step) if step else (ld_ms or _parse_step(None))
        raw = self._instant_selector_rollup(query, t_ms, step_ms, enforced)
        if raw is not None:
            return raw
        # `expr[w:s]` instant queries delegate to a RANGE evaluation of
        # the wrapped expression over [time−offset−w, time−offset] and
        # return a matrix (IsRollup path, prometheus.go:834-853)
        rng = self._instant_rollup_range(
            query, t_ms, step_ms, trace, enforced, max_lookback,
            timeout, latency_offset, may_cache, round_digits,
        )
        if rng is not None:
            return rng
        # evaluation times within latencyOffset of now are pulled back
        # to ct − offset (samples there may be incomplete), then result
        # timestamps are shifted forward to the requested time
        # (prometheus.go:855-867,892-903); skipped under ?nocache=1
        qo = (
            _parse_step(latency_offset)
            if latency_offset
            else self.latency_offset_ms
        )
        ts_shift = 0
        if may_cache and ct - t_ms < qo and t_ms - ct < qo:
            prev = t_ms
            t_ms = ct - qo
            ts_shift = prev - t_ms
        tracer = (
            QueryTracer(f"/api/v1/query: query={query!r}") if trace else None
        )
        series = self._eval(
            query, t_ms, t_ms, step_ms, tracer, enforced,
            lookback_delta_ms=ld_ms,
            timeout_ms=_parse_step(timeout) if timeout else 0,
        )
        result = [
            {
                "metric": _metric_obj(name, dict(labels)),
                "value": [
                    (pts[-1][0] + ts_shift) / 1000.0,
                    _fmt_value(
                        _round_to_decimal_digits(pts[-1][1], round_digits)
                    ),
                ],
            }
            for (name, labels), pts in sorted(series.items())
            if pts
        ]
        out = {
            "status": "success",
            "data": {"resultType": "vector", "result": result},
        }
        if tracer:
            out["trace"] = tracer.to_dict()
        return out

    def _instant_rollup_range(
        self,
        query: str,
        t_ms: int,
        step_ms: int,
        trace: bool,
        enforced: tuple,
        max_lookback: str | None,
        timeout: str | None,
        latency_offset: str | None,
        may_cache: bool,
        round_digits: int,
    ) -> "dict | None":
        """Instant query of a top-level ``expr[window:step]`` rollup:
        the reference (QueryHandler IsRollup branch,
        prometheus.go:834-853) runs the WRAPPED expression as a range
        query over [time−offset−window, time−offset] at the subquery
        step and returns a matrix. Returns None when the query isn't
        of that shape (the selector-without-step shape is handled by
        _instant_selector_rollup first, like the reference's
        IsMetricSelectorWithRollup precedence). `@`-modified rollups
        fall through to the full evaluator — the reference's IsRollup
        serialization silently DROPS the @ timestamp (re.Expr skips
        RollupExpr fields); here @ keeps its documented pinned-eval
        semantics (same deliberate deviation as
        _instant_selector_rollup, backed by the mq_at_modifier gate)."""
        from victoriametrics_spark.metricsql import parse
        from victoriametrics_spark.metricsql.ast import RollupExpr
        from victoriametrics_spark.metricsql.serialize import (
            to_query_string,
        )

        try:
            e = parse(query)
        except Exception:
            return None
        if not (
            isinstance(e, RollupExpr)
            and e.window is not None
            and e.at is None
        ):
            return None
        child = to_query_string(e.expr)
        new_step = e.step.ms(step_ms) if e.step is not None else 0
        if new_step > 0:
            step_ms = new_step
        window_ms = e.window.ms(step_ms)
        offset_ms = e.offset.ms(step_ms) if e.offset is not None else 0
        end = t_ms - offset_ms
        start = end - window_ms
        return self.query_range(
            child,
            str(start / 1000.0),
            str(end / 1000.0),
            str(step_ms / 1000.0),
            trace=trace,
            enforced=enforced,
            max_lookback=max_lookback,
            may_cache=may_cache,
            timeout=timeout,
            latency_offset=latency_offset,
            round_digits=round_digits,
        )

    def _instant_selector_rollup(
        self, query: str, t_ms: int, step_ms: int, enforced: tuple
    ) -> "dict | None":
        """Instant query of a bare ``selector[window]`` (± offset)
        exports the RAW samples in ``(t−offset−window, t−offset]`` as a
        matrix (prometheus.go:801-832 IsMetricSelectorWithRollup →
        exportHandler; the +1 makes the lower bound exclusive like
        Prometheus). Returns None when the query isn't of that shape."""
        from victoriametrics_spark.engine.planner import selector_predicate
        from victoriametrics_spark.metricsql import parse
        from victoriametrics_spark.metricsql.ast import MetricExpr, RollupExpr

        try:
            e = parse(query)
        except Exception:
            return None
        if not (
            isinstance(e, RollupExpr)
            and isinstance(e.expr, MetricExpr)
            and e.window is not None
            and e.step is None
            and not e.inherit_step
            and e.at is None
        ):
            return None
        window_ms = e.window.ms(step_ms)
        offset_ms = e.offset.ms(step_ms) if e.offset is not None else 0
        end = t_ms - offset_ms
        start = end - window_ms + 1
        df = self.samples
        if self.dedup_interval_ms > 0:
            from victoriametrics_spark.streaming.streamaggr import dedup_samples

            df = dedup_samples(df, self.dedup_interval_ms)
        # raw-sample view: stale markers stay visible as NaN, exactly
        # like /api/v1/export and VM's selector[d] instant response
        # (apptest metricsql_test.go issues/5806 — VM itself returns the
        # marker here)
        if "is_stale" in df.columns:
            df = df.withColumn(
                "value",
                F.when(
                    F.coalesce(F.col("is_stale"), F.lit(False)),
                    F.lit(float("nan")),
                ).otherwise(F.col("value")),
            )
        if enforced:
            df = df.filter(selector_predicate(_enforced_expr(enforced)))
        df = df.filter(
            selector_predicate(e.expr)
            & (F.col("ts") >= start)
            & (F.col("ts") <= end)
        )
        rows = (
            df.groupBy("name", F.map_entries("labels").alias("__e"))
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("ts", "value"))
                ).alias("__pts")
            )
            .collect()
        )
        result = []
        for r in rows:
            labels = {x["key"]: x["value"] for x in (r["__e"] or [])}
            result.append(
                {
                    "metric": _metric_obj(r["name"], labels),
                    "values": [
                        [p["ts"] / 1000.0, _fmt_value(p["value"])]
                        for p in r["__pts"]
                    ],
                }
            )
        result.sort(key=lambda x: sorted(x["metric"].items()))
        return {
            "status": "success",
            "data": {"resultType": "matrix", "result": result},
        }

    # ------------------------------------------------------ series scans
    def _match_df(
        self,
        matches: list[str],
        start: str | None,
        end: str | None,
        enforced: tuple = (),
        day_granular: bool = False,
        start_ms: int | None = None,
        end_ms: int | None = None,
    ):
        from victoriametrics_spark.engine.planner import selector_predicate
        from victoriametrics_spark.metricsql import parse
        from victoriametrics_spark.metricsql.ast import (
            LabelFilter,
            MetricExpr,
            RollupExpr,
        )

        df = self.samples
        if self.dedup_interval_ms > 0:
            from victoriametrics_spark.streaming.streamaggr import dedup_samples

            df = dedup_samples(df, self.dedup_interval_ms)
        if enforced:
            df = df.filter(
                selector_predicate(_enforced_expr(enforced))
            )
        # start_ms/end_ms: already-resolved bounds (the labels-API
        # default window) — must NOT round-trip through _parse_time,
        # whose unit auto-detection would read a small ms value as
        # seconds
        if start_ms is None and start:
            start_ms = _parse_time(start, 0)
        if end_ms is None and end:
            end_ms = _parse_time(end, 1 << 62)
        if start_ms is not None:
            lo = start_ms
            if day_granular:
                # series/labels lookups resolve through VM's PER-DAY
                # inverted index (lib/storage/index_db.go): any series
                # alive on the covered days matches, regardless of
                # intra-day timestamps (apptest multitenant /series)
                df = df.filter(
                    F.to_date(F.timestamp_millis(F.col("ts")))
                    >= F.to_date(F.timestamp_millis(F.lit(lo)))
                )
            else:
                df = df.filter(F.col("ts") >= lo)
        if end_ms is not None:
            hi = end_ms
            if day_granular:
                df = df.filter(
                    F.to_date(F.timestamp_millis(F.col("ts")))
                    <= F.to_date(F.timestamp_millis(F.lit(hi)))
                )
            else:
                df = df.filter(F.col("ts") <= hi)
        preds = []
        for m in matches or []:
            e = parse(m)
            if isinstance(e, RollupExpr):
                e = e.expr
            if not isinstance(e, MetricExpr):
                raise ValueError(f"match[] must be a series selector: {m!r}")
            preds.append(selector_predicate(e))
        if preds:
            p = preds[0]
            for q in preds[1:]:
                p = p | q
            df = df.filter(p)
        return df

    def _labels_api_window(
        self, start: str | None, end: str | None, now_ms: int | None
    ) -> tuple[int, int]:
        """The labels-API default range (getCommonParamsForLabelsAPI,
        prometheus.go:1210-1220 + getCommonParamsInternal): end
        defaults to now, end < start clamps to start, and a zero/absent
        start becomes end − 5m — deliberately NOT epoch, so a bare
        /api/v1/labels|series never scans all of history (VM issue #91;
        the same property keeps the scan partition-pruned at 100 TB)."""
        ct = now_ms if now_ms is not None else _now_ms()
        start_ms = _parse_time(start, 0)
        end_ms = _parse_time(end, ct)
        if end_ms < start_ms:
            end_ms = start_ms
        if start_ms == 0:
            start_ms = end_ms - DEFAULT_STEP_MS
        return start_ms, end_ms

    def series(
        self,
        matches: list[str],
        start: str | None = None,
        end: str | None = None,
        enforced: tuple = (),
        limit: int = 0,
        now_ms: int | None = None,
    ) -> dict:
        start_ms, end_ms = self._labels_api_window(start, end, now_ms)
        df = self._match_df(
            matches, None, None, enforced, day_granular=True,
            start_ms=start_ms, end_ms=end_ms,
        )
        rows = (
            df.groupBy("name", F.map_entries("labels").alias("__e"))
            .agg(F.first(F.lit(1)))
            .collect()
        )
        if self.max_series > 0 and len(rows) > self.max_series:
            # -search.maxSeries (app/vmselect/prometheus/prometheus.go:55)
            raise ValueError(
                f"the number of matching timeseries exceeds "
                f"-search.maxSeries={self.max_series}; either narrow down "
                "the search or increase the -search.maxSeries value"
            )
        data = [
            _metric_obj(r["name"], {e["key"]: e["value"] for e in (r["__e"] or [])})
            for r in rows
        ]
        data.sort(key=lambda m: sorted(m.items()))
        if limit and limit > 0:
            data = data[:limit]
        return {"status": "success", "data": data}

    def labels(
        self,
        matches: list[str] | None = None,
        start: str | None = None,
        end: str | None = None,
        enforced: tuple = (),
        limit: int = 0,
        now_ms: int | None = None,
    ) -> dict:
        start_ms, end_ms = self._labels_api_window(start, end, now_ms)
        df = self._match_df(
            matches or [], None, None, enforced, day_granular=True,
            start_ms=start_ms, end_ms=end_ms,
        )
        keys = (
            df.select(F.explode(F.map_keys("labels")).alias("k"))
            .distinct()
            .collect()
        )
        names = sorted({r["k"] for r in keys} | {"__name__"})
        if limit and limit > 0:
            # Prometheus `limit` arg / -search.maxTagKeys truncation
            names = names[:limit]
        return {"status": "success", "data": names}

    def label_values(
        self,
        label: str,
        matches: list[str] | None = None,
        start: str | None = None,
        end: str | None = None,
        enforced: tuple = (),
        limit: int = 0,
        now_ms: int | None = None,
    ) -> dict:
        start_ms, end_ms = self._labels_api_window(start, end, now_ms)
        df = self._match_df(
            matches or [], None, None, enforced, day_granular=True,
            start_ms=start_ms, end_ms=end_ms,
        )
        if label == "__name__":
            col = F.col("name")
        else:
            col = F.col("labels").getItem(label)
        vals = (
            df.select(col.alias("v"))
            .filter(F.col("v").isNotNull() & (F.col("v") != ""))
            .distinct()
            .collect()
        )
        out = sorted(r["v"] for r in vals)
        if limit and limit > 0:
            # Prometheus `limit` arg / -search.maxTagValues truncation
            out = out[:limit]
        return {"status": "success", "data": out}

    # --------------------------------------------------------- export
    def _export_source(
        self,
        matches: list[str],
        start: str | None,
        end: str | None,
        enforced: tuple,
        reduce_mem_usage: bool = False,
    ):
        """Raw-export scan with the reference's downsampling-on-export
        rule: when no `start` is given and reduce_mem_usage is unset,
        output is thinned at the biggest configured
        -downsampling.period interval (docs §Downsampling; the exact
        example there: 30d:1h,180d:24h → export returns 24h samples).
        Under selector-scoped rules (filter:offset:interval) each
        series thins at ITS first-matching filter's biggest interval,
        and series matching no filter stay raw — one global biggest
        would over-thin unmatched series."""
        df = self._match_df(matches, start, end, enforced)
        if (
            start is None
            and not reduce_mem_usage
            and self.downsampling_rules
        ):
            from victoriametrics_spark.storage.downsample import (
                downsample,
                rule_groups,
            )

            groups = rule_groups(self.downsampling_rules)
            if any(sel is not None for sel, _ in groups):
                # per-group biggest interval at offset 0 + far-future
                # now; downsample()'s selector path keeps first-match-
                # wins order and leaves unmatched series raw
                per_group = [
                    (sel, 0, max(itv for _, itv in levels))
                    for sel, levels in groups
                ]
                df = downsample(df, per_group, now_ms=1 << 60)
            else:
                biggest = max(
                    itv for _, levels in groups for _, itv in levels
                )
                if biggest > 0:
                    # offset 0 + far-future now: every sample is
                    # "aged", so the output thins at the biggest
                    # interval
                    df = downsample(df, [(0, biggest)], now_ms=1 << 60)
        return df

    def export_jsonl_df(
        self,
        matches: list[str],
        start: str | None = None,
        end: str | None = None,
        enforced: tuple = (),
        max_rows_per_line: int = 0,
        reduce_mem_usage: bool = False,
    ):
        """One finished JSONL export line per series, built entirely
        JVM-side: groupBy the canonical series key, sort_array over the
        collected (ts, value) structs, to_json — the driver only ever
        touches one row per SERIES (presentation-sized), never one row
        per sample. At 100 TB the per-series point lists are the export
        payload itself; there is no smaller correct unit of transfer."""
        df = self._export_source(
            matches, start, end, enforced, reduce_mem_usage
        )
        # maps can't be groupBy keys — canonicalize to sorted entry array
        entries = F.array_sort(
            F.map_entries(F.coalesce(F.col("labels"), F.expr("map()")))
        )
        pts = F.array_sort(F.collect_list(F.struct("ts", "value")))
        grouped = (
            df.select("name", entries.alias("__e"), "ts", "value")
            .groupBy("name", "__e")
            .agg(pts.alias("__pts"))
        )
        if max_rows_per_line > 0:
            # exportHandler's maxRowsPerLine chunking: a series with
            # more samples than the cap emits multiple lines, each
            # carrying at most that many (ts, value) pairs
            n = int(max_rows_per_line)
            chunks = F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("__pts") / F.lit(n)).cast("int") - 1,
                ),
                lambda i: F.slice(F.col("__pts"), i * n + 1, n),
            )
            grouped = grouped.select(
                "name", "__e", F.explode(chunks).alias("__pts")
            )
        lbl = F.map_from_entries(F.col("__e"))
        metric = F.when(
            F.coalesce(F.col("name"), F.lit("")) != "",
            F.map_concat(
                lbl, F.create_map(F.lit("__name__"), F.col("name"))
            ),
        ).otherwise(lbl)
        line = F.to_json(
            F.struct(
                metric.alias("metric"),
                F.transform(F.col("__pts"), lambda p: p["value"]).alias("values"),
                F.transform(F.col("__pts"), lambda p: p["ts"]).alias(
                    "timestamps"
                ),
            )
        )
        return grouped.select(line.alias("line"))

    def export_jsonl(
        self,
        matches: list[str],
        start: str | None = None,
        end: str | None = None,
        enforced: tuple = (),
        max_rows_per_line: int = 0,
        reduce_mem_usage: bool = False,
    ):
        """VM JSONL export lines (/api/v1/export shape:
        {"metric":{...},"values":[...],"timestamps":[...]}), yielded
        through toLocalIterator() so the driver holds ONE Spark
        partition of finished lines at a time — constant driver memory
        regardless of export size, like the reference's streaming
        exportHandler (no cross-series order guarantee, same as VM).
        The plan (and its parse/validation errors) is built eagerly;
        only the row transfer is lazy."""
        df = self.export_jsonl_df(
            matches, start, end, enforced,
            max_rows_per_line=max_rows_per_line,
            reduce_mem_usage=reduce_mem_usage,
        )
        return (r["line"] for r in df.toLocalIterator())

    def export_prometheus(
        self,
        matches: list[str],
        start: str | None = None,
        end: str | None = None,
        enforced: tuple = (),
        reduce_mem_usage: bool = False,
    ):
        """``format=prometheus`` export: one exposition line per SAMPLE
        (export.qtpl ExportPrometheusLine) — built JVM-side; the driver
        receives finished lines only. Label values are
        exposition-escaped (backslash, quote, newline); ±Inf renders as
        the Prometheus ``+Inf``/``-Inf`` tokens, not Java's
        ``Infinity``."""
        df = self._export_source(
            matches, start, end, enforced, reduce_mem_usage
        )
        entries = F.array_sort(
            F.map_entries(F.coalesce(F.col("labels"), F.expr("map()")))
        )

        def esc(col):
            col = F.replace(col, F.lit("\\"), F.lit("\\\\"))
            col = F.replace(col, F.lit('"'), F.lit('\\"'))
            return F.replace(col, F.lit("\n"), F.lit("\\n"))

        lbl = F.array_join(
            F.transform(
                entries,
                lambda e: F.concat(
                    e["key"], F.lit('="'), esc(e["value"]), F.lit('"')
                ),
            ),
            ",",
        )
        v = F.col("value")
        vtxt = (
            F.when(v == F.lit(float("inf")), F.lit("+Inf"))
            .when(v == F.lit(float("-inf")), F.lit("-Inf"))
            .when(
                (v == F.floor(v))
                & ~F.isnan(v)
                & (F.abs(v) < F.lit(1e15)),
                v.cast("long").cast("string"),
            )
            .otherwise(v.cast("string"))
        )
        line = F.concat(
            F.coalesce(F.col("name"), F.lit("")),
            F.lit("{"), lbl, F.lit("} "),
            vtxt, F.lit(" "),
            F.col("ts").cast("string"),
        )
        # toLocalIterator: one partition of finished lines driver-side
        # at a time — constant driver memory for any export size
        out = df.select(line.alias("line"))
        return (r["line"] for r in out.toLocalIterator())

    def federate(
        self,
        matches: list[str],
        lookback_ms: int | None = None,
        enforced: tuple = (),
        start: str | None = None,
        end: str | None = None,
        now_ms: int | None = None,
    ) -> list[str]:
        """Latest point per matched series in Prometheus exposition
        format (app/vmselect/prometheus/federate.qtpl). Default time
        range is ``[end - lookback, end]`` with lookback =
        ``max_lookback`` arg or 5m (FederateHandler:120-129) — a series
        whose last sample is older than the lookback does NOT federate
        (it would otherwise reappear forever); explicit start/end
        params override."""
        window = None
        if start is None and end is None:
            import time as _time

            end_val = int(now_ms if now_ms is not None else _time.time() * 1000)
            lb = int(lookback_ms) if lookback_ms else self.max_lookback_ms
            # exact ms bounds — routing them through the start/end
            # strings would hit _parse_time's unit autodetect
            window = (end_val - lb, end_val)
        df = self._match_df(matches, start, end, enforced)
        if window is not None:
            df = df.filter(
                (F.col("ts") >= window[0]) & (F.col("ts") <= window[1])
            )
        rows = (
            df.groupBy("name", F.map_entries("labels").alias("__e"))
            .agg(F.max(F.struct("ts", "value")).alias("__last"))
            .collect()
        )
        def _esc(v: str) -> str:
            return (
                v.replace("\\", "\\\\")
                .replace('"', '\\"')
                .replace("\n", "\\n")
            )

        lines = []
        for r in rows:
            labels = {e["key"]: e["value"] for e in (r["__e"] or [])}
            lbl = ",".join(
                f'{k}="{_esc(v)}"' for k, v in sorted(labels.items())
            )
            name = r["name"] or "unnamed"
            last = r["__last"]
            lines.append(
                f"{name}{{{lbl}}} {_fmt_value(last['value'])} {last['ts']}"
            )
        return sorted(lines)

    # --------------------------------------------- export tail (round 8)
    def export_csv_df(
        self,
        matches: list[str],
        fmt: str,
        start: str | None = None,
        end: str | None = None,
        enforced: tuple = (),
    ):
        """/api/v1/export/csv — one CSV line per sample, built entirely
        JVM-side. Field semantics follow the reference's export.qtpl
        exportCSVField: ``__value__``, ``__timestamp__[:unix_s|unix_ms|
        unix_ns|rfc3339]``, ``__name__``, any other name = label value
        (quoted when it contains a quote, comma or newline)."""
        if not fmt:
            raise ValueError("missing `format` arg")
        df = self._match_df(matches, start, end, enforced)
        cols = []
        for fname in fmt.split(","):
            if fname == "__value__":
                v = F.col("value")
                c = F.when(
                    v == v.cast("long").cast("double"),
                    v.cast("long").cast("string"),
                ).otherwise(v.cast("string"))
            elif fname in ("__timestamp__", "__timestamp__:unix_ms"):
                c = F.col("ts").cast("string")
            elif fname == "__timestamp__:unix_s":
                c = F.expr("CAST(ts DIV 1000 AS STRING)")
            elif fname == "__timestamp__:unix_ns":
                c = (F.col("ts") * F.lit(1_000_000)).cast("string")
            elif fname == "__timestamp__:rfc3339":
                c = F.date_format(
                    F.timestamp_millis(F.col("ts")),
                    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
                )
            elif fname.startswith("__timestamp__:"):
                raise ValueError(
                    f"unsupported timeFormat={fname.split(':', 1)[1]}"
                )
            else:
                if fname == "__name__":
                    c = F.coalesce(F.col("name"), F.lit(""))
                else:
                    c = F.coalesce(F.col("labels").getItem(fname), F.lit(""))
                quoted = F.concat(
                    F.lit('"'),
                    F.regexp_replace(c, '"', '""'),
                    F.lit('"'),
                )
                c = F.when(c.rlike('[",\n]'), quoted).otherwise(c)
            cols.append(c)
        return df.select(F.concat_ws(",", *cols).alias("line"))

    def export_csv(
        self,
        matches: list[str],
        fmt: str,
        start: str | None = None,
        end: str | None = None,
        enforced: tuple = (),
    ):
        """CSV export lines: the `fmt` header first, then one line per
        sample via toLocalIterator() (constant driver memory). The plan
        is built eagerly so format errors raise before any bytes go
        out."""
        df = self.export_csv_df(matches, fmt, start, end, enforced)

        def _lines():
            yield fmt
            for r in df.toLocalIterator():
                yield r["line"]

        return _lines()

    def export_native(
        self,
        matches: list[str],
        start: str | None = None,
        end: str | None = None,
        enforced: tuple = (),
    ) -> bytes:
        """/api/v1/export/native — the engine's native at-rest format is
        parquet (SURVEY §2.1: 'Parquet IS the native format'), so native
        export streams a parquet file of (name, labels, ts, value); VM
        streams its own block format there."""
        import glob as _glob
        import shutil as _shutil
        import tempfile as _tempfile

        df = self._match_df(matches, start, end, enforced)
        d = _tempfile.mkdtemp(prefix="vmspark_native_")
        try:
            df.select("name", "labels", "ts", "value").coalesce(
                1
            ).write.mode("overwrite").parquet(f"{d}/out")
            part = _glob.glob(f"{d}/out/part-*.parquet")[0]
            with open(part, "rb") as fh:
                return fh.read()
        finally:
            _shutil.rmtree(d, ignore_errors=True)

    # -------------------------------------------- status tail (round 8)
    def series_count(self) -> dict:
        """/api/v1/series/count — number of distinct series
        (netstorage.SeriesCount; response shape
        series_count_response.qtpl: data=[n])."""
        from victoriametrics_spark.schema import series_key

        n = (
            self.samples.select(
                series_key(F.col("name"), F.col("labels")).alias("__sk")
            )
            .distinct()
            .count()
        )
        return {"status": "success", "data": [n]}

    def metadata(
        self, metric=None, limit=0, store=None, tenant=None
    ) -> dict:
        """/api/v1/metadata — metric family metadata from HELP/TYPE
        comments and remote-write Metadata records
        (app/vmselect/prometheus MetadataHandler +
        lib/storage/metricsmetadata). Empty map when no store is
        wired (the pre-metadata behavior)."""
        if store is None:
            return {"status": "success", "data": {}}
        try:
            limit = int(limit or 0)
        except (TypeError, ValueError):
            limit = 0
        return store.as_response(
            limit=limit, metric=metric or None, tenant=tenant
        )

    def buildinfo(self) -> dict:
        """/api/v1/buildinfo — static version payload (Grafana probes it)."""
        return {"status": "success", "data": {"version": "victoriametrics-spark"}}

    def query_exemplars(self) -> dict:
        """/api/v1/query_exemplars — VM stores no exemplars; empty."""
        return {"status": "success", "data": []}

    def top_queries(self, top_n: int = 20) -> dict:
        """/api/v1/status/top_queries — in-process registry of executed
        queries ranked by count / avg duration / total duration
        (app/vmselect querystats analog)."""
        with self._stats_lock:
            snapshot = [
                (q, tr, c, s)
                for (q, tr), (c, s) in self._query_stats.items()
            ]
        items = [
            {
                "query": q,
                "timeRangeSeconds": tr,
                "count": c,
                "sumDurationSeconds": round(s, 6),
                "avgDurationSeconds": round(s / c, 6),
            }
            for q, tr, c, s in snapshot
        ]
        return {
            "status": "success",
            "topByCount": sorted(
                items, key=lambda x: -x["count"]
            )[:top_n],
            "topByAvgDuration": sorted(
                items, key=lambda x: -x["avgDurationSeconds"]
            )[:top_n],
            "topBySumDuration": sorted(
                items, key=lambda x: -x["sumDurationSeconds"]
            )[:top_n],
        }

    def active_queries(self) -> dict:
        """/api/v1/status/active_queries — queries currently executing
        in this process (promql.ActiveQueries analog)."""
        import time as _time

        now = _time.time()
        with self._stats_lock:
            snapshot = [(qid, dict(rec)) for qid, rec in self._active.items()]
        data = [
            {
                "id": qid,
                "query": rec["query"],
                "start": rec["start"],
                "end": rec["end"],
                "step": rec["step"],
                "duration": f"{now - rec['t0']:.3f}s",
            }
            for qid, rec in snapshot
        ]
        return {"status": "ok", "data": data}

    # ------------------------------------------ debug routes (round 9)
    def _track_metric_names(
        self, query: str, start_ms: int = 0, end_ms: int = 0
    ) -> None:
        try:
            from victoriametrics_spark.metricsql import parse
            from victoriametrics_spark.metricsql.ast import MetricExpr, walk

            if self.track_metric_names:
                # VM-exact: every series a search touches bumps its
                # name's counter (search.go:310) — one probe per query
                # counting matched series per name over the range
                # envelope (day-granular via date partition pruning)
                from victoriametrics_spark.engine.planner import (
                    selector_predicate,
                )
                from victoriametrics_spark.schema import series_key

                lo = start_ms - self.max_lookback_ms - 86_400_000
                for node in walk(parse(query)):
                    if not isinstance(node, MetricExpr):
                        continue
                    probe = (
                        self.samples.filter(selector_predicate(node))
                        .filter(
                            (F.col("ts") >= F.lit(lo))
                            & (F.col("ts") <= F.lit(end_ms))
                        )
                        .groupBy("name")
                        .agg(
                            F.count_distinct(
                                series_key(F.col("name"), F.col("labels"))
                            ).alias("n")
                        )
                        .collect()
                    )
                    for r in probe:
                        self.names_tracker.register_query(r["name"], int(r["n"]))
                return
            for node in walk(parse(query)):
                if isinstance(node, MetricExpr):
                    n = node.metric_name()
                    if n:
                        self.names_tracker.register_query(n)
        except Exception:
            pass  # tracking must never fail a query

    def metric_names_stats(
        self,
        limit: int = 1000,
        match_pattern: str | None = None,
        le: int = -1,
    ) -> dict:
        """/api/v1/status/metric_names_stats — per-metric-name query
        usage (app/vmselect/stats/stats.go over
        lib/storage/metricnamestats): records sorted by metric name,
        ``le`` keeps counts <= le, response per
        metric_names_usage_response.qtpl (with the record list also
        nested under data for older clients)."""
        out = self.names_tracker.as_response(
            limit=limit, le=le, match_pattern=match_pattern
        )
        out["data"] = {
            "statsCollectedRecordsTotal": out["statsCollectedRecordsTotal"],
            "records": out["records"],
        }
        return out

    def reset_metric_names_stats(self) -> dict:
        """/api/v1/admin/status/metric_names_stats/reset."""
        self.names_tracker.reset()
        return {"status": "success"}

    def spark_plan(
        self,
        query: str,
        start: str | None = None,
        end: str | None = None,
        step: str | None = None,
        enforced: tuple = (),
        execute: bool = False,
    ) -> dict:
        """GET /debug/spark-plan — Spark-native observability this
        engine adds over the reference: the OPTIMIZED physical plan a
        MetricsQL expression compiles to, plus the scale-relevant
        counts (shuffle/broadcast Exchanges; with ``execute=1`` the
        query runs and the AQE-final plan's whole-stage-codegen spans
        are counted too — pre-execution AQE plans don't carry them).
        The counterpart of VM's `trace=1` for the planning side —
        `trace` shows where time went, this shows what will MOVE."""
        ct = _now_ms()
        step_ms = _parse_step(step)
        start_ms = _parse_time(start, ct - DEFAULT_STEP_MS)
        end_ms = _parse_time(end, ct)
        cfg = EvalConfig(
            start=start_ms,
            end=end_ms,
            step=step_ms,
            max_lookback=self.max_lookback_ms,
            dedup_interval_ms=self.dedup_interval_ms,
            enforced_filters=enforced,
        )
        df = evaluate(self.spark, query, self.samples, cfg)
        if execute:
            # run THIS frame's plan (count() would wrap it in a new
            # plan and leave this one isFinalPlan=false) so AQE
            # finalizes and the codegen stage markers appear
            df.collect()
        qe = df._jdf.queryExecution()
        executed = qe.executedPlan().toString()
        formatted = qe.explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        import re as _re

        # count NODE kinds, not substrings: "ReusedExchange" contains
        # "Exchange" and must not inflate the shuffle count (it runs
        # nothing new); alternation is longest-listed-first at each
        # word boundary
        kinds = _re.findall(
            r"\b(ReusedExchange|BroadcastExchange|Exchange)\b", executed
        )
        data = {
            "query": query,
            "start": start_ms,
            "end": end_ms,
            "step": step_ms,
            "shuffleExchanges": kinds.count("Exchange"),
            "broadcastExchanges": kinds.count("BroadcastExchange"),
            "reusedExchanges": kinds.count("ReusedExchange"),
            "plan": formatted,
        }
        if execute:
            # the executed AQE-final plan marks codegen stages *(n)
            data["wholeStageCodegenSpans"] = len(
                set(_re.findall(r"\*\((\d+)\)", executed))
            )
        return {"status": "success", "data": data}

    def prettify_query(self, query: str) -> dict:
        """/prettify-query — parse + re-serialize to the canonical
        normalized form (reference: app/vmselect/main.go prettify-query
        over metricsql.Prettify)."""
        from victoriametrics_spark.metricsql import parse
        from victoriametrics_spark.metricsql.serialize import prettify

        try:
            return {
                "status": "success",
                "query": prettify(parse(query)),
            }
        except Exception as e:
            return {"status": "error", "msg": str(e)}

    def expand_with_exprs(self, query: str) -> dict:
        """/expand-with-exprs — expand WITH templates and return the
        plain-MetricsQL equivalent (app/vmselect/main.go; expansion
        happens in the parser, parser.go:2201-2247)."""
        from victoriametrics_spark.metricsql import parse
        from victoriametrics_spark.metricsql.serialize import to_query_string

        try:
            return {
                "status": "success",
                "expr": to_query_string(parse(query)),
            }
        except Exception as e:
            return {"status": "error", "msg": str(e)}

    def downsampling_filters_debug(self, flags: str, metrics: str) -> dict:
        """/downsampling-filters-debug — the vmui Tools→"Downsampling
        filters debug" backend (app/vmui .../api/
        downsampling-filters-debug.ts contract: ``result`` maps each
        input series to the -downsampling.period flag lines its FIRST
        matching filter group applies, null when no filter matches;
        ``error.flags``/``error.metrics`` carry parse errors). ``flags``
        and ``metrics`` are newline-separated."""
        from victoriametrics_spark.engine.planner import selector_predicate
        from victoriametrics_spark.metricsql import parse as _mql_parse
        from victoriametrics_spark.metricsql.ast import MetricExpr
        from victoriametrics_spark.storage.downsample import (
            parse_downsampling_periods,
            rule_groups,
        )

        flag_lines = [
            ln.strip() for ln in (flags or "").splitlines() if ln.strip()
        ]
        metric_lines = [
            ln.strip() for ln in (metrics or "").splitlines() if ln.strip()
        ]
        if not flag_lines:
            return {"result": {}, "error": {"flags": "flags are required"}}
        if not metric_lines:
            return {
                "result": {},
                "error": {"metrics": "metrics are required"},
            }
        try:
            rules = parse_downsampling_periods(flag_lines)
        except Exception as e:  # noqa: BLE001 — reported, not raised
            return {"result": {}, "error": {"flags": str(e)}}
        groups = rule_groups(rules)
        lines_by_sel: dict = {}
        for ln, r in zip(flag_lines, rules):
            sel = r[0] if len(r) == 3 else None
            lines_by_sel.setdefault(sel, []).append(ln)
        rows = []
        for i, m in enumerate(metric_lines):
            try:
                me = _mql_parse(m)
                if not isinstance(me, MetricExpr):
                    raise ValueError("not a plain series")
                name, labels = "", {}
                for group in me.label_filterss[:1]:
                    for f in group:
                        if f.op != "=":
                            raise ValueError(
                                "metric labels must use '=' matchers"
                            )
                        if f.label == "__name__":
                            name = f.value
                        else:
                            labels[f.label] = f.value
            except Exception as e:  # noqa: BLE001
                return {
                    "result": {},
                    "error": {
                        "metrics": f"cannot parse metric {m!r}: {e}"
                    },
                }
            rows.append((i, name, labels))
        df = self.spark.createDataFrame(
            rows, "idx long, name string, labels map<string,string>"
        )
        # first-match-wins classification — the exact expression shape
        # downsample() applies during maintenance, so the debug answer
        # IS the maintenance behavior
        grp = F.lit(-1)
        matched = F.lit(False)
        for gi, (sel, _levels) in enumerate(groups):
            pred = (
                F.lit(True)
                if sel is None
                else selector_predicate(_mql_parse(sel))
            )
            grp = F.when(~matched & pred, F.lit(gi)).otherwise(grp)
            matched = matched | pred
        hit = {
            r["idx"]: r["g"]
            for r in df.select("idx", grp.alias("g")).collect()
        }
        result = {}
        for i, m in enumerate(metric_lines):
            gi = hit.get(i, -1)
            result[m] = (
                lines_by_sel[groups[gi][0]] if gi >= 0 else None
            )
        return {"result": result, "error": {}}

    def relabel_debug(
        self, metric: str, relabel_configs: str, target: bool = False
    ) -> dict:
        """/metric-relabel-debug and /target-relabel-debug
        (app/vmselect/main.go → lib/promrelabel debug): apply the YAML
        relabel config to ONE series in exposition form and return the
        per-rule intermediate label sets. ``target=True`` finalizes like
        target relabeling (labels starting with ``__`` are dropped at
        the end, promrelabel.FinalizeLabels)."""
        import yaml

        from victoriametrics_spark.metricsql import parse
        from victoriametrics_spark.metricsql.ast import MetricExpr
        from victoriametrics_spark.streaming.relabel import apply_rule

        try:
            me = parse(metric or "{}")
            if not isinstance(me, MetricExpr):
                raise ValueError("metric must be a plain series selector")
            labels = {}
            name = ""
            for group in me.label_filterss[:1]:
                for f in group:
                    if f.op != "=":
                        raise ValueError(
                            "metric labels must use '=' matchers"
                        )
                    if f.label == "__name__":
                        name = f.value
                    else:
                        labels[f.label] = f.value
            rules = yaml.safe_load(relabel_configs or "[]") or []
            if not isinstance(rules, list):
                raise ValueError("relabel config must be a YAML list")

            def fmt(rows) -> str | None:
                if not rows:
                    return None  # dropped
                r = rows[0]
                lbls = dict(r["labels"] or {})
                nm = r["name"] or ""
                body = ", ".join(
                    f'{k}="{v}"' for k, v in sorted(lbls.items())
                )
                return f"{nm}{{{body}}}" if body else nm or "{}"

            df = self.spark.createDataFrame(
                [(name, labels, 0, 0.0, False)],
                "name string, labels map<string,string>, ts long, "
                "value double, is_stale boolean",
            )
            steps = []
            for rule in rules:
                df = apply_rule(df, rule)
                rows = df.limit(1).collect()
                steps.append(
                    {"rule": rule, "result": fmt(rows) or "<dropped>"}
                )
                if not rows:
                    break
            rows = df.limit(1).collect()
            if target and rows:
                r = rows[0]
                kept = {
                    k: v
                    for k, v in dict(r["labels"] or {}).items()
                    if not k.startswith("__")
                }
                df = self.spark.createDataFrame(
                    [(r["name"], kept, 0, 0.0, False)],
                    "name string, labels map<string,string>, ts long, "
                    "value double, is_stale boolean",
                )
                rows = df.limit(1).collect()
            return {
                "status": "success",
                "originalLabels": fmt(
                    [{"name": name, "labels": labels}]
                ),
                "steps": steps,
                "resultingLabels": fmt(rows) or "<dropped>",
            }
        except Exception as e:
            return {"status": "error", "msg": str(e)}

    def reload_samples(self) -> None:
        """Re-derive the pinned samples frame from the backing table —
        required after an out-of-band ``compact_samples_table`` (the
        compaction replaces/drops files the old frame's plan binds)."""
        if not self.samples_table:
            raise ValueError("reload_samples requires PromAPI(samples_table=...)")
        from victoriametrics_spark.storage.layout import read_samples_table

        self.samples = read_samples_table(
            self.spark, self.samples_table, tenant=self.tenant
        )
        if self.cache is not None:
            self.cache.reset()

    def delete_series(self, matches: list[str]) -> dict:
        """/api/v1/admin/tsdb/delete_series — tombstone matching series
        in the backing table (storage/layout.py delete_series; VM:
        deleted-metricIDs set, lib/storage/index_db.go). Requires the
        API to know its backing table (samples_table=...)."""
        if not self.samples_table:
            raise ValueError(
                "delete_series requires PromAPI(samples_table=...)"
            )
        from victoriametrics_spark.storage.layout import (
            delete_series as _delete,
            read_samples_table,
        )

        n = _delete(
            self.spark, self.samples_table, matches, tenant=self.tenant
        )
        # re-derive the pinned samples frame so subsequent queries see
        # the tombstones (also rotates the engine plan-cache key)
        self.samples = read_samples_table(
            self.spark, self.samples_table, tenant=self.tenant
        )
        # the result caches key on (query, cfg) with no data identity —
        # reset them like the reference's delete handler does
        # (promql.ResetRollupResultCache, prometheus.go:527), else
        # previously cached ranges keep serving the deleted series
        if self.cache is not None:
            self.cache.reset()
        return {"status": "success", "deleted_series": n}

    # ------------------------------------------------------- snapshots
    def _require_table(self, what: str) -> str:
        if not self.samples_table:
            raise ValueError(f"{what} requires PromAPI(samples_table=...)")
        return self.samples_table

    def snapshot_create(self, prometheus_compatible: bool = False) -> dict:
        """/snapshot/create (and the Prometheus-compatible
        /api/v1/admin/tsdb/snapshot, which differs only in response
        shape) — instant hardlink snapshot of the backing table
        (app/vmstorage/main.go:300-335; storage/snapshot.py)."""
        from victoriametrics_spark.storage.snapshot import create_snapshot

        name = create_snapshot(self.spark, self._require_table("snapshot"))
        if prometheus_compatible:
            return {"status": "success", "data": {"name": name}}
        return {"status": "ok", "snapshot": name}

    def snapshot_list(self) -> dict:
        from victoriametrics_spark.storage.snapshot import list_snapshots

        return {
            "status": "ok",
            "snapshots": list_snapshots(
                self.spark, self._require_table("snapshot")
            ),
        }

    def snapshot_delete(self, name: str) -> dict:
        from victoriametrics_spark.storage.snapshot import delete_snapshot

        try:
            delete_snapshot(self.spark, self._require_table("snapshot"), name)
        except ValueError as e:
            return {"status": "error", "msg": str(e)}
        return {"status": "ok"}

    def snapshot_delete_all(self) -> dict:
        from victoriametrics_spark.storage.snapshot import (
            delete_all_snapshots,
        )

        delete_all_snapshots(self.spark, self._require_table("snapshot"))
        return {"status": "ok"}

    def tags_del_series(self, paths: list[str]) -> bool:
        """/tags/delSeries (tags_api.go:33-78): delete the series
        matching each ``metric;k=v;...`` path — exact tag-filter
        deletes through the same tombstone path as delete_series.
        Returns whether anything was deleted (the handler renders the
        bare ``true``/``false`` JSON body, like the reference)."""
        matches = []
        for path in paths:
            name, tags = _parse_graphite_path(path)
            if tags:
                body = ",".join(
                    '{}="{}"'.format(
                        k, v.replace("\\", "\\\\").replace('"', '\\"')
                    )
                    for k, v in sorted(tags.items())
                )
                matches.append(name + "{" + body + "}")
            else:
                matches.append(name)
        if not matches:
            return False
        out = self.delete_series(matches)
        return out.get("deleted_series", 0) > 0

    def force_merge(self, partition_prefix: str = "") -> dict:
        """/internal/force_merge — force-merge the partitions whose
        value starts with ``partition_prefix`` (VM: ForceMergePartitions,
        app/vmstorage/main.go:250-268; partition names are month-level
        there, date-level here, so a '2024-01' prefix hits a month).
        Runs synchronously (the reference backgrounds it; a driver-side
        call can just wait) and re-derives the pinned samples frame."""
        from victoriametrics_spark.storage.layout import (
            _partition_file_index,
            compact_samples_table,
        )

        table = self._require_table("force_merge")
        scan = self.spark.table(table)
        part_cols = [c for c in ("tenant", "date") if c in scan.columns]
        dates = sorted(
            {
                p[-1]
                for p in _partition_file_index(self.spark, table, part_cols)
                if p[-1].startswith(partition_prefix)
            }
        )
        if dates:
            compact_samples_table(self.spark, table, dates=dates)
            self.reload_samples()
        return {"status": "ok", "partitions": dates}

    def force_flush(self) -> dict:
        """/internal/force_flush — the reference flushes in-memory parts
        to searchable storage (Storage.DebugFlush). Our ingest path
        appends straight to the table (no in-memory tier), so this only
        re-derives the pinned frame to pick up any out-of-band
        appends."""
        if self.samples_table:
            self.reload_samples()
        return {"status": "ok"}

    # ---------------------------------------------------- graphite render
    def graphite_functions(
        self, grouped: bool = False, group: "str | None" = None
    ) -> dict:
        """Graphite Function API /functions
        (app/vmselect/graphite/functions_api.go FunctionsHandler): an
        index over OUR render-function registry — name + a signature
        derived from the python implementation. We don't track
        graphite-web's group taxonomy, so every function sits in group
        ''; ``grouped``/``group`` behave per spec against that."""
        import inspect

        from victoriametrics_spark.graphite.functions import FUNCTIONS

        out: dict = {}
        for name, fn in sorted(FUNCTIONS.items()):
            if group is not None and group != "":
                continue
            info = {
                "name": name,
                "function": f"{name}(seriesList)",
                "description": (inspect.getdoc(fn) or "").split("\n")[0],
                "group": "",
            }
            if grouped:
                out.setdefault("", {})[name] = info
            else:
                out[name] = info
        return out

    def graphite_function_details(self, name: str) -> dict:
        """/functions/<name> (FunctionDetailsHandler)."""
        fns = self.graphite_functions()
        if name not in fns:
            raise ValueError(f"cannot find function {name!r}")
        return fns[name]

    def render(
        self,
        target: str | list[str],
        start: str | None,
        end: str | None,
        step: str | None = None,
        max_data_points: int = 0,
        now_ms: int | None = None,
    ) -> list[dict]:
        """Graphite /render JSON (app/vmselect/graphite/render_api.go +
        render_response.qtpl): one object per series with
        ``datapoints: [[value|null, ts_seconds], ...]``. Labels are
        folded into graphite tagged-series names (``name;k=v;...``), so
        seriesByTag/groupByTags work over the same sample frame the
        Prometheus endpoints query.

        Defaults mirror the reference exactly: ``from`` = now − 24h,
        ``until`` = now (render_api.go:41-57) — a bare
        ``/render?target=...`` renders the last day, never [0, 0]."""
        from victoriametrics_spark.graphite import render as gr_render

        ct = now_ms if now_ms is not None else _now_ms()
        step_ms = _parse_step(step)
        start_ms = _parse_time(start, ct - 86_400_000)
        end_ms = _parse_time(end, ct)
        gsamples = self.samples.select(
            F.concat(
                F.col("name"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.map_entries(
                                F.coalesce(
                                    F.col("labels"),
                                    F.create_map().cast(
                                        "map<string,string>"
                                    ),
                                )
                            )
                        ),
                        lambda e: F.concat(
                            F.lit(";"), e["key"], F.lit("="), e["value"]
                        ),
                    ),
                ),
            ).alias("name"),
            "ts",
            "value",
        )
        targets = target if isinstance(target, list) else [target]
        df = gr_render(
            self.spark, targets, gsamples, start_ms, end_ms, step_ms
        )
        series: dict = {}
        for r in df.collect():
            series.setdefault(r["name"], []).append((r["ts"], r["value"]))
        out = []
        for name in sorted(series):
            pts = sorted(series[name])
            if max_data_points > 0 and len(pts) > max_data_points:
                # render_api.go:117-133 summarize: re-bucket to
                # (end-start)/maxDataPoints and consolidate (avg
                # default); one list pass per rendered series —
                # presentation-sized, like the reference
                step2 = max(1, (end_ms - start_ms) // max_data_points)
                buckets: dict = {}
                for ts, v in pts:
                    b = start_ms + ((ts - start_ms) // step2) * step2
                    buckets.setdefault(b, []).append(v)
                pts = [
                    (
                        b,
                        (sum(vs) / len(vs)) if vs else None,
                    )
                    for b, raw in sorted(buckets.items())
                    for vs in [[x for x in raw if x is not None]]
                ]
            base, _, tagstr = name.partition(";")
            tags = {"name": base}
            for kv in tagstr.split(";") if tagstr else []:
                k, _, v = kv.partition("=")
                if k:
                    tags[k] = v
            out.append(
                {
                    "target": name,
                    "tags": tags,
                    "datapoints": [
                        [v, ts // 1000] for ts, v in pts
                    ],
                }
            )
        return out

    def rules(
        self,
        type: str | None = None,
        rule_name: "list[str] | None" = None,
        exclude_alerts: bool = False,
    ) -> dict:
        """GET /api/v1/rules (vmalert's Prometheus-compatible rule
        listing; rule.ApiRule shape, app/vmalert/rule/web.go:77-122).
        Filters per the Prometheus rules API (web.go rulesFilter):
        ``type`` = alert|record, ``rule_name[]`` exact names,
        ``exclude_alerts`` drops the embedded alert lists.

        When a RulesNotifierRunner is attached, each alerting rule
        embeds its currently pending/firing alerts from the runner's
        state snapshot and derives the rule state from them
        (firing > pending > inactive) — no Spark work on the request
        path, same as the /api/v1/alerts default path."""
        from victoriametrics_spark.rules import AlertingRule, RecordingRule

        runner = getattr(self, "notifier_runner", None)
        snap = (
            list(runner.last_alerts)
            if runner is not None and runner.last_alerts is not None
            else None
        )
        if type not in (None, "", "alert", "record"):
            raise ValueError(f"invalid type parameter {type!r}")
        names = set(rule_name or [])
        groups = []
        for gname, rlist in self.rule_groups:
            out = []
            for r in rlist:
                if isinstance(r, RecordingRule):
                    if type == "alert" or (names and r.record not in names):
                        continue
                    out.append(
                        {
                            "type": "recording",
                            "state": "ok",
                            "name": r.record,
                            "query": r.expr,
                            "labels": r.labels,
                            "health": "ok",
                            "lastError": "",
                        }
                    )
                elif isinstance(r, AlertingRule):
                    if type == "record" or (names and r.alert not in names):
                        continue
                    mine = [
                        a for a in (snap or []) if a.get("name") == r.alert
                    ]
                    if snap is None:
                        state = "inactive"
                    elif any(a["state"] == "firing" for a in mine):
                        state = "firing"
                    elif any(a["state"] == "pending" for a in mine):
                        state = "pending"
                    else:
                        state = "inactive"
                    entry = {
                        "type": "alerting",
                        "state": state,
                        "name": r.alert,
                        "query": r.expr,
                        "duration": r.for_ms / 1000.0,
                        "keep_firing_for": r.keep_firing_for_ms / 1000.0,
                        "labels": r.labels,
                        "annotations": r.annotations,
                        "health": "ok",
                        "lastError": "",
                    }
                    if mine and not exclude_alerts:
                        entry["alerts"] = mine
                    out.append(entry)
            groups.append({"name": gname, "rules": out})
        return {"status": "success", "data": {"groups": groups}}

    @staticmethod
    def _labels_match(labels: dict, selectors: "list[str]") -> bool:
        """areLabelsMatch (vmalert web.go): multiple match[] selectors
        are OR'd; within one selector the label filters AND. Regex ops
        are fully anchored like Prometheus matchers."""
        import re as _re

        from victoriametrics_spark.metricsql.ast import MetricExpr
        from victoriametrics_spark.metricsql.parser import parse

        def one(sel: str) -> bool:
            e = parse(sel)
            if not isinstance(e, MetricExpr):
                raise ValueError(f"match[] must be a selector: {sel!r}")
            for group in e.label_filterss or [[]]:
                ok = True
                for f in group:
                    v = labels.get(f.label, "")
                    if f.op == "=":
                        ok = v == f.value
                    elif f.op == "!=":
                        ok = v != f.value
                    elif f.op == "=~":
                        ok = _re.fullmatch(f.value, v) is not None
                    elif f.op == "!~":
                        ok = _re.fullmatch(f.value, v) is None
                    else:
                        ok = False
                    if not ok:
                        break
                if ok:
                    return True
            return False

        return any(one(s) for s in selectors)

    def get_alert(
        self,
        group_id: "str | None",
        alert_id: "str | None",
        time: str | None = None,
    ) -> "dict | None":
        """GET /api/v1/alert?group_id=&alert_id= — one alert in the
        ApiAlert shape (vmalert web.go:268-282 getAlert), or None."""
        for a in self.alerts(time)["data"]["alerts"]:
            if a["group_id"] == str(group_id) and a["id"] == str(alert_id):
                return a
        return None

    def alerts(
        self, time: str | None = None, match: "list[str] | None" = None
    ) -> dict:
        """GET /api/v1/alerts — active (pending|firing) alerts.

        Default path (no ``time=``): when a RulesNotifierRunner is
        attached, serve its in-memory state map — vmalert's APIv1
        alerts handler reads the state its background eval tick
        maintains (app/vmalert/web.go), it does NOT evaluate rules per
        request. No Spark job runs on this path: a dashboard polling
        /api/v1/alerts at 100 TB must not trigger a full-table max(ts)
        probe plus a rule re-evaluation per poll. Explicit ``time=``
        keeps the evaluate-at-instant path (state machine in rules.py
        eval_alerting_rule)."""
        from victoriametrics_spark.rules import AlertingRule, eval_alerting_rule

        if time is None:
            runner = getattr(self, "notifier_runner", None)
            if runner is not None and runner.last_alerts is not None:
                snap = list(runner.last_alerts)
                if match:
                    snap = [
                        a
                        for a in snap
                        if self._labels_match(a.get("labels") or {}, match)
                    ]
                return {"status": "success", "data": {"alerts": snap}}

        if time is not None:
            now_ms = _parse_time(time, 0)
        else:
            row = self.samples.agg(F.max("ts")).first()
            now_ms = int(row[0]) if row and row[0] is not None else 0
        import hashlib as _hl
        from datetime import datetime as _dt, timezone as _tz

        def _h(s: str) -> str:
            # deterministic uint64-style ids like vmalert's hash ids
            return str(
                int.from_bytes(_hl.md5(s.encode()).digest()[:8], "big")
            )

        def _rfc(ms: int) -> str:
            return (
                _dt.fromtimestamp(ms / 1000.0, tz=_tz.utc)
                .isoformat()
                .replace("+00:00", "Z")
            )

        alerts = []
        for gname, rlist in self.rule_groups:
            for r in rlist:
                if not isinstance(r, AlertingRule):
                    continue
                # evaluate enough history to know whether `for` elapsed;
                # span is a step multiple so now_ms lands on the grid
                span = (
                    (max(r.for_ms, 0) + 2 * DEFAULT_STEP_MS)
                    // DEFAULT_STEP_MS
                ) * DEFAULT_STEP_MS
                cfg = EvalConfig(
                    start=now_ms - span,
                    end=now_ms,
                    step=DEFAULT_STEP_MS,
                    max_lookback=self.max_lookback_ms,
                )
                out = eval_alerting_rule(self.spark, self.samples, r, cfg)
                # one pass over the span: labels at every grid ts, so
                # activeAt = start of the contiguous active run ending
                # at now (clamped to the evaluated span; the background
                # runner keeps the true cross-tick start in its tracker)
                hist_all = (
                    out.filter(
                        F.col("name").isin("ALERTS", "ALERTS_FOR_STATE")
                    )
                    .select("name", "labels", "ts")
                    .collect()
                )
                hist = [r for r in hist_all if r["name"] == "ALERTS"]
                # condition actually holds at now ⇔ a FOR_STATE row
                # exists at now; a firing alert without one is being
                # kept by keep_firing_for (ApiAlert.Stabilizing)
                cond_now: set = set()
                for row in hist_all:
                    if row["name"] == "ALERTS_FOR_STATE" and row["ts"] == now_ms:
                        labels = dict(row["labels"] or {})
                        labels.pop("alertstate", None)
                        cond_now.add(json.dumps(sorted(labels.items())))
                ts_by_key: dict[str, set] = {}
                latest: dict[str, dict] = {}
                for row in hist:
                    labels = dict(row["labels"] or {})
                    labels.pop("alertstate", None)
                    key = json.dumps(sorted(labels.items()))
                    ts_by_key.setdefault(key, set()).add(row["ts"])
                for row in hist:
                    if row["ts"] != now_ms:
                        continue
                    labels = dict(row["labels"] or {})
                    state = labels.pop("alertstate", "pending")
                    key = json.dumps(sorted(labels.items()))
                    seen = ts_by_key.get(key, set())
                    active_at = now_ms
                    t = now_ms
                    while (t - DEFAULT_STEP_MS) in seen:
                        t -= DEFAULT_STEP_MS
                    active_at = t
                    full = {"alertname": r.alert, **labels}
                    group_id = _h(gname)
                    alert_id = _h(json.dumps(sorted(full.items())))
                    latest[key] = {
                        # rule.ApiAlert shape (app/vmalert/rule/
                        # web.go:144-171): Grafana ng-alerting reads
                        # these fields
                        "state": state,
                        "name": r.alert,
                        "value": "1",
                        "labels": full,
                        "annotations": r.annotations,
                        "activeAt": _rfc(active_at),
                        "id": alert_id,
                        "rule_id": _h(r.alert + "\x00" + r.expr),
                        "group_id": group_id,
                        "expression": r.expr,
                        "source": (
                            f"vmalert/alert?group_id={group_id}"
                            f"&alert_id={alert_id}"
                        ),
                        "restored": False,
                        "stabilizing": (
                            state == "firing"
                            and r.keep_firing_for_ms > 0
                            and key not in cond_now
                        ),
                    }
                alerts.extend(latest.values())
        if match:
            alerts = [
                a
                for a in alerts
                if self._labels_match(a.get("labels") or {}, match)
            ]
        alerts.sort(key=lambda a: a["id"])
        return {"status": "success", "data": {"alerts": alerts}}

    def tsdb_status(
        self,
        topn: int = 10,
        focus_label: str | None = None,
        match: list[str] | None = None,
        start: str | None = None,
        end: str | None = None,
        date: str | None = None,
        now_ms: int | None = None,
    ) -> dict:
        """GET /api/v1/status/tsdb (prometheus.go:577 TSDBStatusHandler,
        heap construction lib/storage/index_db.go:1300-1404) — the
        cardinality explorer. All four top-N rankings derive from ONE
        distinct-series frame; each ranking is a groupBy + limited sort,
        so at 100 TB this is a handful of shuffles over series (not
        sample) cardinality. ``__name__`` participates as a label pair,
        matching VM's nameEqualBytes accounting."""
        # topN clamps to [1, -search.maxTSDBStatusTopNSeries=1000]
        # (prometheus.go:605-618)
        topn = max(1, min(int(topn), 1000))
        if match:
            df = self._match_df(match, start, end)
        else:
            df = self.samples
        # `date` scoping (TSDBStatusHandler, prometheus.go:591-604 +
        # start/end derivation): absent → TODAY's per-day index slice,
        # "0" → the whole retention, else the given YYYY-MM-DD day.
        # The reference IGNORES start/end here (only date + match[]
        # reach the SearchQuery range); we honor explicit start/end as
        # a documented extension, and the date default applies only
        # when neither is given.
        if not (start or end):
            day_idx: int | None
            if date is None or date == "":
                ct = now_ms if now_ms is not None else _now_ms()
                day_idx = ct // 86_400_000
            elif date == "0":
                day_idx = None
            else:
                from datetime import datetime, timezone

                t = datetime.strptime(date, "%Y-%m-%d").replace(
                    tzinfo=timezone.utc
                )
                day_idx = int(t.timestamp() * 1000) // 86_400_000
            if day_idx is not None:
                lo = day_idx * 86_400_000
                df = df.filter(
                    (F.col("ts") >= lo) & (F.col("ts") <= lo + 86_399_999)
                )
        series = (
            df.select("name", "labels")
            .withColumn(
                "__pairs",
                F.map_entries(
                    F.map_concat(
                        F.create_map(F.lit("__name__"), F.col("name")),
                        F.coalesce("labels", F.create_map()),
                    )
                ),
            )
            .select(F.to_json("__pairs").alias("__sid"), "name", "__pairs")
            .dropDuplicates(["__sid"])
        )
        series = series.persist()
        pairs = None
        try:
            total_series = series.count()
            pairs = series.select(
                "__sid", F.explode("__pairs").alias("__p")
            ).select(
                "__sid",
                F.col("__p.key").alias("label"),
                F.col("__p.value").alias("value"),
            )
            pairs = pairs.persist()
            total_pairs = pairs.select("label", "value").distinct().count()

            def heap(grouped, name_col) -> list[dict]:
                rows = grouped.orderBy(
                    F.col("__n").desc(), F.col(name_col).asc()
                ).limit(topn).collect()
                return [
                    {"name": r[name_col], "value": int(r["__n"])} for r in rows
                ]

            by_metric = heap(
                series.groupBy("name").agg(F.count(F.lit(1)).alias("__n")),
                "name",
            )
            if self.track_metric_names:
                # seriesCountByMetricName entries carry the tracker's
                # per-name query counts (apptest TSDBStatusResponse
                # MetricNameEntry.RequestsCount)
                for e in by_metric:
                    e["requestsCount"] = self.names_tracker.query_count(
                        e["name"]
                    )
            by_label = heap(
                pairs.groupBy("label").agg(
                    F.count_distinct("__sid").alias("__n")
                ),
                "label",
            )
            pair_col = F.concat("label", F.lit("="), "value").alias("pair")
            by_pair = heap(
                pairs.select(pair_col, "__sid")
                .groupBy("pair")
                .agg(F.count_distinct("__sid").alias("__n")),
                "pair",
            )
            values_by_label = heap(
                pairs.groupBy("label").agg(
                    F.count_distinct("value").alias("__n")
                ),
                "label",
            )
            out = {
                "totalSeries": total_series,
                "totalLabelValuePairs": total_pairs,
                "seriesCountByMetricName": by_metric,
                "seriesCountByLabelName": by_label,
                "seriesCountByLabelValuePair": by_pair,
                "labelValueCountByLabelName": values_by_label,
            }
            if focus_label:
                out["seriesCountByFocusLabelValue"] = heap(
                    pairs.filter(F.col("label") == focus_label)
                    .groupBy("value")
                    .agg(F.count_distinct("__sid").alias("__n")),
                    "value",
                )
            return {"status": "success", "data": out}
        finally:
            series.unpersist()
            if pairs is not None:
                pairs.unpersist()


# Consuming scan over the canonical `{k="v",...}` stream form: each
# match swallows a whole `name="value"` pair (escaped quotes included),
# so '=' or 'x="y"' text INSIDE a quoted value can never produce a
# bogus field — and the leading [{,] anchor stops a field name that is
# a suffix of another ("app" vs "webapp") from matching the wrong pair.
_STREAM_PAIR_RE = r'[{,]([A-Za-z_][A-Za-z0-9_.:\-]*="(?:[^"\\]|\\.)*")'


def _stream_pairs():
    return F.regexp_extract_all(F.col("_stream"), F.lit(_STREAM_PAIR_RE), 1)


class LogsAPI:
    """VictoriaLogs-compatible query endpoints over a log DataFrame
    (columns ``_time``/``_msg``/fields — sources/logs.py shape).

    Mirrors the public /select/logsql/* HTTP surface that fronts the
    vendored logstorage engine: ``query`` streams matching rows as JSONL,
    ``hits`` buckets match counts by step, ``stats_query`` returns a
    Prometheus-style vector from a trailing stats pipe, ``facets`` /
    ``field_names`` / ``field_values`` expose the discovery endpoints.
    All heavy work stays in Spark; the driver only collects the
    presentation-sized result (rows are capped by ``limit``)."""

    def __init__(
        self,
        spark: SparkSession,
        logs: DataFrame,
        now_ms=None,
        token_index_path: str | None = None,
    ):
        self.spark = spark
        self.logs = logs
        self.now_ms = now_ms
        # token skip-index (logsql/index.py — the bloom-filter analog):
        # when a path is given, every word/phrase-filtered query prunes
        # its scan to candidate (day, stream) buckets by default; the
        # index is built lazily on first use if absent
        self.token_index_path = token_index_path
        self._index_ready = False

    def _ensure_index(self) -> str | None:
        if not self.token_index_path:
            return None
        if not self._index_ready:
            import os

            from victoriametrics_spark.logsql.index import build_token_index

            ok = False
            if os.path.isdir(self.token_index_path):
                try:  # existing index from a prior run / compaction job
                    self.spark.read.parquet(self.token_index_path).schema
                    ok = True
                except Exception:
                    ok = False
            if not ok:
                build_token_index(self.logs, self.token_index_path)
            self._index_ready = True
        return self.token_index_path

    def _extra_filter_pred(self, spec: str, stream: bool):
        """``extra_filters`` / ``extra_stream_filters`` select args
        (VictoriaLogs querying docs; the vmgateway-style enforcement
        for logs): a JSON object mapping field names to a value or a
        list of alternative values, ANDed into every query. Stream
        variants match against the canonical ``_stream`` identity when
        present (anchored component match), else fall back to plain
        field equality."""
        import json as _json

        from victoriametrics_spark.logsql import pipes as _pipes

        m = _json.loads(spec)
        if not isinstance(m, dict):
            raise ValueError("extra_filters must be a JSON object")
        pred = F.lit(True)
        use_stream = stream and "_stream" in self.logs.columns
        for k, vals in m.items():
            vals = vals if isinstance(vals, list) else [vals]
            if use_stream:
                alt = F.lit(False)
                for v in vals:
                    alt = alt | _pipes.stream_filter(
                        F.col("_stream"), {k: str(v)}
                    )
                pred = pred & alt
            elif k not in self.logs.columns:
                # an absent field matches nothing (VictoriaLogs
                # semantics), never an analyzer error
                pred = pred & F.lit(False)
            else:
                # frame accessor, not F.col(): dotted field names
                # ("service.name") must not resolve as struct paths
                pred = pred & self.logs[k].cast("string").isin(
                    *[str(v) for v in vals]
                )
        return pred

    def scoped(
        self,
        extra_filters: str | None = None,
        extra_stream_filters: str | None = None,
    ) -> "LogsAPI":
        """A shallow clone whose scanned frame is pre-filtered by the
        enforcement args — applied ONCE at HTTP dispatch so EVERY
        /select/logsql/* endpoint (hits, stats, streams, facets,
        field values, ...) is scoped, not just /query. Returns self
        when no args are set; clones are per-request, so the shared
        API object stays immutable under the threading server."""
        if not extra_filters and not extra_stream_filters:
            return self
        import copy as _copy

        clone = _copy.copy(self)
        # the shared token skip-index must be built from the PARENT's
        # unfiltered frame — built lazily from a scoped clone it would
        # cover only the filtered rows and silently poison every later
        # unscoped query's pruning
        clone._ensure_index = self._ensure_index
        logs = self.logs
        if extra_filters:
            logs = logs.filter(
                self._extra_filter_pred(extra_filters, stream=False)
            )
        if extra_stream_filters:
            logs = logs.filter(
                self._extra_filter_pred(extra_stream_filters, stream=True)
            )
        clone.logs = logs
        return clone

    def _run(
        self,
        query: str,
        extra_filters: str | None = None,
        extra_stream_filters: str | None = None,
    ) -> DataFrame:
        from victoriametrics_spark.logsql.parser import run_logsql

        api = self.scoped(extra_filters, extra_stream_filters)
        return run_logsql(
            api.logs,
            query,
            now_ms=self.now_ms,
            token_index_path=self._ensure_index(),
        )

    def query(
        self,
        query: str,
        limit: int = 1000,
        extra_filters: str | None = None,
        extra_stream_filters: str | None = None,
    ):
        """GET /select/logsql/query → JSONL lines, yielded through
        toLocalIterator() (one partition driver-side at a time —
        constant driver memory like VictoriaLogs' streaming writer).
        The plan builds eagerly so parse errors raise before bytes go
        out."""
        df = self._run(query, extra_filters, extra_stream_filters)
        if limit:
            df = df.limit(int(limit))
        return iter(df.toJSON().toLocalIterator())

    def hits(
        self,
        query: str,
        step: str = "1d",
        fields: list[str] | None = None,
    ) -> dict:
        """GET /select/logsql/hits — match counts per time bucket,
        optionally grouped by fields."""
        from victoriametrics_spark.logsql.parser import parse_duration_ms

        step_ms = int(parse_duration_ms(step))
        df = self._run(query)
        bucket = (
            F.floor(
                F.unix_millis(F.col("_time").cast("timestamp")) / step_ms
            )
            * step_ms
        ).alias("__t")
        keys = list(fields or [])
        agg = (
            df.groupBy(bucket, *keys)
            .agg(F.count(F.lit(1)).alias("hits"))
            .orderBy("__t", *keys)
        )
        rows = agg.collect()
        groups: dict = {}
        for r in rows:
            key = tuple((f, str(r[f])) for f in keys)
            g = groups.setdefault(key, {"fields": dict(key), "timestamps": [], "values": []})
            g["timestamps"].append(int(r["__t"]))
            g["values"].append(int(r["hits"]))
        return {"hits": list(groups.values())}

    def stats_query(self, query: str) -> dict:
        """GET /select/logsql/stats_query — the trailing ``stats`` pipe
        becomes an instant vector: by-fields → labels, each stats result
        column → one series with label ``__name__``."""
        from victoriametrics_spark.logsql.parser import parse_query

        q = parse_query(query)
        if not q.pipes or q.pipes[-1][0] != "stats":
            raise ValueError("stats_query requires the query to end with | stats")
        by = [b if isinstance(b, str) else b[0] for b in q.pipes[-1][1]]
        value_cols = [fn[2] for fn in q.pipes[-1][2]]
        df = self._run(query)
        result = []
        for r in df.collect():
            labels = {f: str(r[f]) for f in by}
            for vc in value_cols:
                v = r[vc]
                if v is None:
                    continue
                result.append(
                    {
                        "metric": {"__name__": vc, **labels},
                        "value": [0, _fmt_value(float(v))],
                    }
                )
        return {
            "status": "success",
            "data": {"resultType": "vector", "result": result},
        }

    def stats_query_range(
        self,
        query: str,
        start: str | None,
        end: str | None,
        step: str = "1d",
    ) -> dict:
        """GET /select/logsql/stats_query_range (app/vlselect/main.go):
        the trailing ``stats`` pipe evaluated per ``step`` bucket over
        [start, end) → a Prometheus matrix. Implemented by appending a
        ``_time:step`` bucket to the stats pipe's by-list and running
        the SAME compiled pipeline — one Spark aggregation over all
        buckets, not one query per bucket."""
        from victoriametrics_spark.logsql.parser import (
            parse_duration_ms,
            parse_query,
            run_parsed,
        )

        step_ms = int(parse_duration_ms(step))
        start_ms = _parse_time(start, 0)
        end_ms = _parse_time(end, 1 << 62)
        q = parse_query(query)
        if not q.pipes or q.pipes[-1][0] != "stats":
            raise ValueError(
                "stats_query_range requires the query to end with | stats"
            )
        kind, by, fns = q.pipes[-1]
        by_names = [b[0] if isinstance(b, tuple) else b for b in by]
        value_cols = [fn[2] for fn in fns]
        q.pipes[-1] = (
            kind,
            list(by) + [("_time", ("dur", float(step_ms), 0.0))],
            fns,
        )
        logs = self.logs
        tcol = F.unix_millis(F.col("_time").cast("timestamp"))
        logs = logs.filter((tcol >= start_ms) & (tcol < end_ms))
        df = run_parsed(
            logs,
            q,
            now_ms=self.now_ms,
            token_index_path=self._ensure_index(),
        )
        series: dict = {}
        for r in df.collect():
            labels = {f: str(r[f]) for f in by_names}
            ts = r["_time"]
            ts_ms = (
                int(ts.timestamp() * 1000)
                if hasattr(ts, "timestamp")
                else int(ts)
            )
            for vc in value_cols:
                v = r[vc]
                if v is None:
                    continue
                key = (vc, tuple(sorted(labels.items())))
                series.setdefault(key, []).append(
                    [ts_ms / 1000.0, _fmt_value(float(v))]
                )
        result = [
            {
                "metric": {"__name__": vc, **dict(labels)},
                "values": sorted(vals),
            }
            for (vc, labels), vals in sorted(series.items())
        ]
        return {
            "status": "success",
            "data": {"resultType": "matrix", "result": result},
        }

    def streams(self, query: str, limit: int = 10) -> dict:
        """GET /select/logsql/streams — matching streams with hit
        counts (vlselect main.go ProcessStreamsRequest)."""
        df = self._run(query)
        if "_stream" not in df.columns:
            return {"streams": []}
        rows = (
            df.groupBy("_stream")
            .agg(F.count(F.lit(1)).alias("hits"))
            .orderBy(F.col("hits").desc(), F.col("_stream").asc())
            .limit(int(limit))
            .collect()
        )
        return {
            "streams": [
                {"value": r["_stream"], "hits": int(r["hits"])}
                for r in rows
            ]
        }

    def stream_field_names(self, query: str) -> dict:
        """GET /select/logsql/stream_field_names — label names used in
        matching streams' canonical ``{k="v",...}`` form. Parsed with a
        consuming pair scan (``_stream_pairs``), so '=' inside quoted
        values can never produce a bogus field name."""
        df = self._run(query)
        if "_stream" not in df.columns:
            return {"names": []}
        names = df.select(
            F.explode(
                F.transform(
                    _stream_pairs(),
                    lambda p: F.substring_index(p, '="', 1),
                )
            ).alias("name")
        )
        rows = (
            names.groupBy("name")
            .agg(F.count(F.lit(1)).alias("hits"))
            .orderBy("name")
            .collect()
        )
        return {
            "names": [
                {"value": r["name"], "hits": int(r["hits"])} for r in rows
            ]
        }

    def stream_field_values(
        self, query: str, field: str, limit: int = 10
    ) -> dict:
        """GET /select/logsql/stream_field_values — values of one stream
        label across matching streams. Selects the pair whose NAME equals
        ``field`` exactly (a field that is a suffix of another —
        'app' vs 'webapp' — can't match the wrong component) and
        unescapes the quoted value."""
        df = self._run(query)
        if "_stream" not in df.columns:
            return {"values": []}
        prefix_len = len(field) + 2  # name + '="'
        mine = F.filter(
            _stream_pairs(),
            lambda p: F.substring_index(p, '="', 1) == F.lit(field),
        )
        raw = F.transform(
            mine,
            lambda p: F.regexp_replace(
                # strip `name="` and the trailing quote, then unescape
                p.substr(F.lit(prefix_len + 1), F.length(p) - prefix_len - 1),
                r"\\(.)",
                "$1",
            ),
        )
        vals = df.select(F.explode(raw).alias("value")).filter(
            F.col("value") != ""
        )
        rows = (
            vals.groupBy("value")
            .agg(F.count(F.lit(1)).alias("hits"))
            .orderBy(F.col("hits").desc(), F.col("value").asc())
            .limit(int(limit))
            .collect()
        )
        return {
            "values": [
                {"value": r["value"], "hits": int(r["hits"])} for r in rows
            ]
        }

    def facets(self, query: str, limit: int = 10) -> dict:
        from victoriametrics_spark.logsql import pipes as _pipes

        df = self._run(query)
        fields = [c for c in df.columns if c != "_time"]
        rows = _pipes.facets(df, fields, int(limit)).collect()
        out: dict = {}
        for r in rows:
            out.setdefault(r["field"], []).append(
                {"field_value": r["value"], "hits": int(r["hits"])}
            )
        return {"facets": [{"field_name": k, "values": v} for k, v in out.items()]}

    def field_names(self, query: str) -> dict:
        from victoriametrics_spark.logsql import pipes as _pipes

        rows = _pipes.field_names(self._run(query)).collect()
        return {
            "names": [
                {"value": r["name"], "hits": int(r["hits"])} for r in rows
            ]
        }

    def field_values(self, query: str, field: str, limit: int = 10) -> dict:
        from victoriametrics_spark.logsql import pipes as _pipes

        rows = _pipes.field_values(self._run(query), field, int(limit)).collect()
        return {
            "values": [
                {"value": str(r["value"]), "hits": int(r["hits"])} for r in rows
            ]
        }


class GraphiteBrowseAPI:
    """Graphite metrics/tags browsing (app/vmselect/graphite/
    metrics_api.go + tags_api.go) — the discovery surface Grafana's
    Graphite datasource uses. Metric names browse as a dot hierarchy;
    tags browse over the label maps. All queries are distinct/groupBy
    over the series identity — series-cardinality work, not sample
    scans."""

    def __init__(self, spark: SparkSession, samples: DataFrame):
        self.spark = spark
        self.samples = samples
        # /tags/tagSeries registrations (RegisterMetricNames analog,
        # tags_api.go:95-143): series made visible to the tags API
        # before any sample arrives; capped like the reference caps its
        # pending-index buffers
        self._registered: list = []

    def _names(self) -> DataFrame:
        names = self.samples.select("name").distinct()
        if self._registered:
            extra = self.spark.createDataFrame(
                [(n,) for n, _ in self._registered], ["name"]
            ).distinct()
            names = names.unionByName(extra).distinct()
        return names

    @staticmethod
    def _expand_braces(glob: str) -> list[str]:
        """Expand ``{a,b}`` alternations into plain globs first, so
        segment-depth arithmetic stays exact even when an alternative
        contains the delimiter (``{a.b,c}.d``)."""
        todo, done = [glob], []
        while todo:
            cur = todo.pop()
            i = cur.find("{")
            j = cur.find("}", i) if i >= 0 else -1
            if i < 0 or j < 0:
                done.append(cur)
                continue
            for alt in cur[i + 1 : j].split(","):
                todo.append(cur[:i] + alt + cur[j + 1 :])
        return done

    def metrics_find(self, query: str) -> list[dict]:
        """GET /metrics/find?query=a.*  — next dot-level segments, full
        graphite glob syntax (``*``, ``?``, ``{a,b}``, ``[0-9]`` — the
        same converter the render/find evaluator uses,
        engine/planner.py graphite_glob_to_regex). Returns Grafana's
        [{text, leaf, expandable}...] shape."""
        from victoriametrics_spark.engine.planner import (
            graphite_glob_to_regex,
        )

        out: dict[str, int] = {}
        seg = F.split(F.col("name"), r"\.")
        for g in self._expand_braces(query):
            depth = g.count(".")
            rx = "^" + graphite_glob_to_regex(g) + "(?:$|\\.)"
            matched = self._names().filter(F.col("name").rlike(rx))
            rows = (
                matched.select(
                    F.element_at(seg, depth + 1).alias("text"),
                    (F.size(seg) > depth + 1).cast("int").alias("expandable"),
                )
                .groupBy("text")
                .agg(F.max("expandable").alias("expandable"))
                .collect()
            )
            for r in rows:
                if r["text"] is not None:
                    out[r["text"]] = max(
                        out.get(r["text"], 0), int(r["expandable"])
                    )
        return [
            {
                "text": text,
                "expandable": expandable,
                "leaf": int(not expandable),
            }
            for text, expandable in sorted(out.items())
        ]

    def metrics_expand(
        self,
        queries: list[str],
        leaves_only: bool = False,
        delimiter: str = ".",
    ) -> list[str]:
        """GET /metrics/expand — flat sorted union of the paths matching
        each glob (graphite/metrics_api.go MetricsExpandHandler), full
        graphite glob syntax via the shared converter (braces expanded
        first so depth arithmetic stays exact); a non-leaf match carries
        a trailing delimiter, ``leavesOnly`` keeps only leaves."""
        import re as _re

        from victoriametrics_spark.engine.planner import (
            graphite_glob_to_regex,
        )

        paths: set[str] = set()
        for q0 in queries:
            for q in self._expand_braces(q0):
                depth = len(q.split(delimiter))
                rx = (
                    "^"
                    + graphite_glob_to_regex(q, delimiter)
                    # segment boundary: `a.b` must not match `a.bc`
                    + "(?:$|" + _re.escape(delimiter) + ")"
                )
                seg = F.split(F.col("name"), _re.escape(delimiter))
                rows = (
                    self._names()
                    .filter(F.col("name").rlike(rx))
                    .select(
                        F.concat_ws(
                            delimiter, F.slice(seg, 1, depth)
                        ).alias("p"),
                        (F.size(seg) > depth).alias("deeper"),
                    )
                    .distinct()
                    .collect()
                )
                for r in rows:
                    paths.add(r["p"] + (delimiter if r["deeper"] else ""))
        if leaves_only:
            paths = {p for p in paths if not p.endswith(delimiter)}
        return sorted(paths)

    def metrics_index(self) -> list[str]:
        """GET /metrics/index.json — every metric name, sorted
        (graphite metrics_api.go MetricsIndexHandler)."""
        return sorted(
            r["name"] for r in self._names().collect() if r["name"]
        )

    def _distinct_series(self) -> DataFrame:
        from victoriametrics_spark.schema import series_key

        base = self.samples.select("name", "labels")
        if self._registered:
            extra = self.spark.createDataFrame(
                self._registered, "name string, labels map<string,string>"
            )
            base = base.unionByName(extra)
        return (
            base
            .withColumn("__sk", series_key(F.col("name"), F.col("labels")))
            .dropDuplicates(["__sk"])
            .drop("__sk")
        )

    def _series_with_pairs(self) -> DataFrame:
        return (
            self._distinct_series()
            .select(
                "name",
                F.explode(
                    F.coalesce("labels", F.create_map().cast("map<string,string>"))
                ).alias("tag", "value"),
            )
        )

    def tags_autocomplete_tags(self, prefix: str = "", limit: int = 100) -> list[str]:
        """GET /tags/autoComplete/tags (tags_api.go:258). The metric
        name participates as the pseudo-tag ``name``."""
        tags = self._series_with_pairs().select("tag").distinct()
        tags = tags.unionByName(self.spark.createDataFrame([("name",)], ["tag"]))
        if prefix:
            tags = tags.filter(F.col("tag").startswith(prefix))
        return [r["tag"] for r in tags.distinct().orderBy("tag").limit(limit).collect()]

    def tags_autocomplete_values(
        self, tag: str, prefix: str = "", limit: int = 100
    ) -> list[str]:
        """GET /tags/autoComplete/values (tags_api.go:168)."""
        if tag == "name":
            vals = self._names().select(F.col("name").alias("value"))
        else:
            vals = (
                self._series_with_pairs()
                .filter(F.col("tag") == tag)
                .select("value")
            )
        if prefix:
            vals = vals.filter(F.col("value").startswith(prefix))
        return [
            r["value"]
            for r in vals.distinct().orderBy("value").limit(limit).collect()
        ]

    def tags_find_series(self, exprs: list[str], limit: int = 100) -> list[str]:
        """GET /tags/findSeries?expr=tag=value... (tags_api.go:341).
        Supports =, !=, =~, !~ exprs; ``name`` targets the metric name.
        Output: canonical ``name;tag1=v1;...`` series strings."""
        import re as _re

        df = self._distinct_series()
        for e in exprs:
            m = _re.match(r"^([^!=~]+)(=~|!=~|!=|=)(.*)$", e)
            if not m:
                raise ValueError(f"invalid tag expr {e!r}")
            tag, op, val = m.group(1), m.group(2), m.group(3)
            col = (
                F.col("name")
                if tag == "name"
                else F.coalesce(F.col("labels").getItem(tag), F.lit(""))
            )
            if op == "=":
                df = df.filter(col == val)
            elif op == "!=":
                df = df.filter(col != val)
            elif op == "=~":
                df = df.filter(col.rlike(f"^(?:{val})$"))
            else:
                df = df.filter(~col.rlike(f"^(?:{val})$"))
        pairs = F.array_sort(
            F.transform(
                F.map_entries(
                    F.coalesce("labels", F.create_map().cast("map<string,string>"))
                ),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]),
            )
        )
        series = df.select(
            F.concat_ws(";", F.array(F.col("name")), pairs).alias("s")
        )
        return [r["s"] for r in series.orderBy("s").limit(limit).collect()]

    def tags_list(self, filter_re: str = "", limit: int = 0) -> list[str]:
        """GET /tags (tags_api.go:447; netstorage.GraphiteTags): all tag
        names with ``__name__`` presented as the pseudo-tag ``name``,
        optional unanchored regex filter, optional limit."""
        import re as _re

        tags = {
            r["tag"]
            for r in self._series_with_pairs().select("tag").distinct().collect()
        }
        tags.add("name")
        out = sorted(tags)
        if filter_re:
            rx = _re.compile(filter_re)
            out = [t for t in out if rx.search(t)]
        if limit > 0:
            out = out[:limit]
        return out

    def tag_values(
        self, tag: str, filter_re: str = "", limit: int = 0
    ) -> dict:
        """GET /tags/<tag_name> (tags_api.go:416): values of one tag
        (``name`` → metric names) in the Graphite response shape
        ``{"tag": ..., "values": [{"count": 1, "value": ...}]}`` —
        count is always 1, exactly like the reference's template
        (tag_values_response.qtpl)."""
        import re as _re

        if tag == "name":
            vals = self._names().select(F.col("name").alias("value"))
        else:
            vals = (
                self._series_with_pairs()
                .filter(F.col("tag") == tag)
                .select("value")
            )
        out = sorted(
            r["value"] for r in vals.distinct().collect() if r["value"]
        )
        if filter_re:
            rx = _re.compile(filter_re)
            out = [v for v in out if rx.search(v)]
        if limit > 0:
            out = out[:limit]
        return {
            "tag": tag,
            "values": [{"count": 1, "value": v} for v in out],
        }

    def register_paths(self, paths: list[str]) -> list[str]:
        """/tags/tagSeries + /tags/tagMultiSeries (tags_api.go:95-143,
        RegisterMetricNames): parse each ``metric;k=v;...`` path, make
        the series visible to every tags/browse read before any sample
        arrives, and return the canonical (tag-sorted) paths."""
        canonical = []
        for path in paths:
            name, tags = _parse_graphite_path(path)
            items = sorted(tags.items())
            canonical.append(
                ";".join([name] + [f"{k}={v}" for k, v in items])
            )
            self._registered.append((name, dict(items)))
        if len(self._registered) > 100_000:
            del self._registered[: len(self._registered) - 100_000]
        return canonical


class SampleLimitError(ValueError):
    """A scrape whose post-relabel sample count exceeds sample_limit
    (scrapework.go:556-562); carries the real parsed count so the
    scraper can still report scrape_samples_scraped like the
    reference."""

    def __init__(self, msg: str, samples: int = 0):
        super().__init__(msg)
        self.samples = int(samples)


# Go reference-time layout tokens → Java datetime pattern (the
# csvimport `time:custom:<layout>` kind uses Go's Mon Jan 2 15:04:05
# 2006 syntax; Spark parses with DateTimeFormatter patterns)
_GO_LAYOUT_TOKENS = [
    ("2006", "yyyy"),
    ("January", "MMMM"),
    ("Jan", "MMM"),
    ("Monday", "EEEE"),
    ("Mon", "EEE"),
    (".000000000", ".SSSSSSSSS"),
    (".000000", ".SSSSSS"),
    (".000", ".SSS"),
    (".999999999", ".SSSSSSSSS"),
    (".999999", ".SSSSSS"),
    (".999", ".SSS"),
    ("Z07:00", "XXX"),
    ("Z0700", "XX"),
    ("-07:00", "xxx"),
    ("-0700", "xx"),
    ("15", "HH"),
    ("01", "MM"),
    ("02", "dd"),
    ("03", "hh"),
    ("04", "mm"),
    ("05", "ss"),
    ("MST", "zzz"),
    ("PM", "a"),
    ("pm", "a"),
]


def _go_layout_to_java(layout: str) -> "str | None":
    """Translate a Go time layout into a Java pattern, quoting every
    unrecognized alphabetic run as a literal (a bare trailing Z in the
    corpus layouts is a LITERAL, not a zone marker)."""
    out: list[str] = []
    lit: list[str] = []

    def flush():
        if lit:
            s = "".join(lit)
            if any(c.isalpha() for c in s):
                out.append("'" + s.replace("'", "''") + "'")
            else:
                out.append(s)
            lit.clear()

    i, n = 0, len(layout)
    while i < n:
        for go, java in _GO_LAYOUT_TOKENS:
            if layout.startswith(go, i):
                flush()
                out.append(java)
                i += len(go)
                break
        else:
            lit.append(layout[i])
            i += 1
    flush()
    return "".join(out) or None


class IngestAPI:
    """Write-side API — the vminsert surface (app/vminsert/main.go
    request routing) over the existing streaming parsers, appending into
    the bucketed sample / log tables (storage/layout.py).

    HTTP bodies are presentation-sized; each request parallelizes its
    parse over the body's lines and appends through the same
    write path batch backfill uses — bulk loads should go straight to
    the batch jobs instead."""

    def __init__(
        self,
        spark: SparkSession,
        samples_table: str | None = None,
        logs_table: str | None = None,
        sink=None,
        tenant: str | None = None,
        retention_ms: int = 0,
        future_retention_ms: int = 0,
        max_backfill_age_ms: int = 0,
        now_ms_fn=None,
        relabel_config=None,
        metadata_store=None,
        names_tracker=None,
        max_hourly_series: int = 0,
        max_daily_series: int = 0,
        datadog_sanitize_metric_name: bool = True,
        otlp_use_prometheus_naming: bool = False,
        otlp_convert_metric_names: bool = False,
        graphite_sanitize_metric_name: bool = False,
    ):
        # -datadog.sanitizeMetricName (datadogutil.go:16-24, default
        # true) and -opentelemetry.usePrometheusNaming /
        # -opentelemetry.convertMetricNamesToPrometheus
        # (stream/sanitize.go:14-18, default false) analogs
        self.datadog_sanitize_metric_name = bool(
            datadog_sanitize_metric_name
        )
        self.otlp_use_prometheus_naming = bool(otlp_use_prometheus_naming)
        self.otlp_convert_metric_names = bool(otlp_convert_metric_names)
        # -graphite.sanitizeMetricName (graphite/parser.go:258-269,
        # default false)
        self.graphite_sanitize_metric_name = bool(
            graphite_sanitize_metric_name
        )
        self.spark = spark
        # -storage.maxHourlySeries / -storage.maxDailySeries analogs
        # (storage.go:2151-2167): new-series rows beyond the window cap
        # are dropped and counted; 0 = off
        from victoriametrics_spark.storage.serieslimit import SeriesLimiter

        self.hourly_series_limiter = (
            SeriesLimiter(max_hourly_series, 3_600_000, now_ms_fn)
            if max_hourly_series > 0
            else None
        )
        self.daily_series_limiter = (
            SeriesLimiter(max_daily_series, 86_400_000, now_ms_fn)
            if max_daily_series > 0
            else None
        )
        self.samples_table = samples_table
        # metric metadata registry (HELP/TYPE comments + remote-write
        # Metadata records → /api/v1/metadata); shareable across the
        # per-tenant IngestAPIs a server creates
        if metadata_store is None:
            from victoriametrics_spark.storage.metadata import (
                MetricsMetadataStore,
            )

            metadata_store = MetricsMetadataStore()
        self.metadata_store = metadata_store
        # optional shared MetricNamesTracker: ingested names register
        # with a zero query count (storage.go:2065); None = no tracking
        self.names_tracker = names_tracker
        # -relabelConfig analog (app/vmagent + vminsert common
        # relabel): a YAML string or parsed rule list applied to every
        # ingested row across all protocols, after extra_label params
        if isinstance(relabel_config, str):
            import yaml

            relabel_config = yaml.safe_load(relabel_config) or []
        self.relabel_config = relabel_config or []
        self.logs_table = logs_table
        # sink(df, kind) override for tests / custom destinations
        self.sink = sink
        # ingest-time retention guards (lib/storage Storage.add rejects
        # rows older than -retentionPeriod or later than
        # -futureRetention; rejected rows count toward
        # vm_rows_ignored_total). 0 = unlimited (tests/backfill default;
        # VM defaults futureRetention=2d).
        self.retention_ms = int(retention_ms)
        self.future_retention_ms = int(future_retention_ms)
        # -maxBackfillAge: rejects samples older than now-age even when
        # retention would keep them; clamped to -retentionPeriod
        # (lib/storage/storage.go:192-205). 0 = retention-only guard.
        self.max_backfill_age_ms = int(max_backfill_age_ms)
        self._now_ms = now_ms_fn or (lambda: int(__import__("time").time() * 1000))
        self.rows_ignored_total = 0
        # malformed-line drops per dialect (vm_rows_invalid_total
        # analog, lib/protoparser/*/parser.go invalidLines counters) —
        # a bad line is skipped-and-counted, never a batch failure
        self.rows_invalid_total: dict[str, int] = {}
        # request-level read/decompress failures per protocol
        # (vm_protoparser_read_errors_total, streamparser.go readErrors)
        self.read_errors_total: dict[str, int] = {}
        # URL-path tenant (/insert/<accountID[:projectID]>/..., VM's
        # multitenant vminsert routing): every written row is tagged.
        # The special "multitenant" token routes each row by its
        # vm_account_id / vm_project_id labels (stripped on write) —
        # app/vminsert multitenant handlers / docs multitenancy-via-labels
        if tenant == "multitenant":
            self.tenant = "multitenant"
        else:
            self.tenant = parse_tenant(tenant) if tenant is not None else None

    # --------------------------------------------------------- helpers
    @staticmethod
    def _lines(body: str) -> list:
        return [ln for ln in body.splitlines() if ln.strip()] or [""]

    def _lines_df(self, body: str) -> DataFrame:
        from victoriametrics_spark.streaming.parsers import lines_frame

        return lines_frame(self.spark, self._lines(body))

    def ingest_json(self, body: str, dialect: str, extra_labels=None) -> int:
        """POST JSON-document ingestion dialects (one payload document
        per request): Datadog v1/v2 series, NewRelic infra bulk,
        OTLP-JSON, Zabbix connector, OpenTSDB HTTP.

        The body is json.loads-validated FIRST: from_json would turn a
        truncated/garbage payload into NULL → 0 rows → a success
        response, and the agent would drop data it believes landed (the
        reference parsers 400 on unmarshal errors so agents retry)."""
        import json as _json

        from victoriametrics_spark.streaming import parsers as P

        try:
            doc = _json.loads(body)
        except Exception as e:
            raise ValueError(f"invalid JSON payload: {e}") from None

        # request-level shape errors, as the reference parsers raise
        # them: datadog v1/v2 need a top-level object (parser_test.go
        # rejects `1234`/`[]`), newrelic a top-level array of objects
        # whose Events are arrays of objects (parser.go:40-85), OTLP an
        # object. opentsdb_http accepts any JSON — a wrong top-level
        # type is a counted zero-row drop, not an error
        # (opentsdbhttp/parser.go:125-137).
        if dialect in ("datadog_v1", "datadog_v2", "otlp") and not isinstance(
            doc, dict
        ):
            raise ValueError(f"{dialect}: top-level JSON object expected")
        if dialect == "newrelic":
            if not isinstance(doc, list):
                raise ValueError(
                    "newrelic: cannot find the top-level array of"
                    " MetricPost objects"
                )
            for mp in doc:
                if not isinstance(mp, dict):
                    raise ValueError("newrelic: cannot find MetricPost object")
                ev = mp.get("Events")
                if ev is None:
                    continue
                if not isinstance(ev, list) or any(
                    not isinstance(e, dict) for e in ev
                ):
                    raise ValueError(
                        "newrelic: cannot find Events array in MetricPost"
                        " object"
                    )

        dd_san = self.datadog_sanitize_metric_name
        otlp_kw = {
            "prom_naming": self.otlp_use_prometheus_naming,
            "convert_names": self.otlp_convert_metric_names,
        }
        fns = {
            "datadog_v1": lambda docs: P.parse_datadog_v1(
                docs, sanitize_metric_name=dd_san
            ),
            "datadog_v2": lambda docs: P.parse_datadog_v2(
                docs, sanitize_metric_name=dd_san
            ),
            "newrelic": lambda docs: P.parse_newrelic(
                docs, default_ts_ms=self._now_ms()
            ),
            "otlp": lambda docs: __import__(
                "victoriametrics_spark.streaming.otlp",
                fromlist=["otlp_to_samples"],
            ).otlp_to_samples(docs, fmt="json", **otlp_kw),
            "opentsdb_http": lambda docs: P.parse_opentsdb_http(
                docs, default_ts_ms=self._now_ms()
            ),
        }
        if dialect not in fns:
            raise ValueError(f"unknown json ingest dialect {dialect!r}")
        if dialect == "otlp":
            # the body is already a driver-side string, so decode ONCE
            # on the driver (samples + metadata in one pass,
            # PushMetricMetadata streamparser.go:200-219) instead of
            # decoding again inside mapInPandas
            from victoriametrics_spark.streaming.otlp import (
                decode_otlp_json,
            )

            try:
                samples, mms = decode_otlp_json(doc, **otlp_kw)
            except Exception as e:
                self.read_errors_total["opentelemetry"] = (
                    self.read_errors_total.get("opentelemetry", 0) + 1
                )
                raise ValueError(
                    f"cannot decode OTLP JSON payload: {e}"
                ) from None
            try:
                self.metadata_store.add(mms, tenant=self._metadata_tenant())
            except Exception:
                pass  # metadata is best-effort; samples still land
            return self._write_samples(
                self._samples_df(samples), extra_labels=extra_labels
            )
        docs = self.spark.createDataFrame([(body,)], ["value"])
        return self._write_samples(
            fns[dialect](docs), extra_labels=extra_labels
        )

    def _samples_df(self, samples) -> DataFrame:
        """Driver-decoded (name, labels, ts, value, is_stale) rows →
        canonical samples frame."""
        from victoriametrics_spark.schema import SAMPLE_SCHEMA

        return self.spark.createDataFrame(
            [tuple(s) for s in samples], SAMPLE_SCHEMA
        )

    def ingest_otlp_pb(self, body: bytes, extra_labels=None) -> int:
        """OTLP/HTTP protobuf metrics (the default OTLP exporter wire
        format — ExportMetricsServiceRequest; stream/streamparser.go).
        One driver-side decode yields samples AND metadata (the body is
        already in driver memory; streaming payload-frame ingest uses
        otlp_to_samples instead)."""
        from victoriametrics_spark.streaming.otlp import decode_otlp_pb

        otlp_kw = {
            "prom_naming": self.otlp_use_prometheus_naming,
            "convert_names": self.otlp_convert_metric_names,
        }
        try:
            samples, mms = decode_otlp_pb(body, **otlp_kw)
        except Exception:
            self.read_errors_total["opentelemetry"] = (
                self.read_errors_total.get("opentelemetry", 0) + 1
            )
            raise ValueError("cannot decode OTLP protobuf payload") from None
        try:
            self.metadata_store.add(mms, tenant=self._metadata_tenant())
        except Exception:
            pass  # metadata is best-effort; samples still land
        return self._write_samples(
            self._samples_df(samples), extra_labels=extra_labels
        )

    def ingest_sketches(self, raw: bytes) -> int:
        """POST /datadog/api/beta/sketches — DDSketch protobuf payload
        (lib/protoparser/datadogsketches): decoded to summary samples."""
        from victoriametrics_spark.streaming.datadogsketches import (
            sketches_to_samples,
        )

        payloads = self.spark.createDataFrame(
            [(bytearray(raw),)], "body binary"
        )
        return self._write_samples(
            sketches_to_samples(
                payloads,
                sanitize_metric_name=self.datadog_sanitize_metric_name,
            )
        )

    def _write_samples(
        self, df: DataFrame, extra_labels=None, n_rows: "int | None" = None
    ) -> int:
        """Append ``df`` and return the number of rows written.
        ``n_rows``, when the caller has already counted ``df``, is that
        number unless a step below drops rows, and saves a recount."""
        if extra_labels:
            # write-side extra_label params (vminsert: applied to every
            # ingested row across all import APIs)
            add = F.create_map(
                *[F.lit(x) for kv in extra_labels for x in kv]
            )
            df = df.withColumn(
                "labels",
                F.map_concat(
                    F.coalesce(F.col("labels"), F.expr("map()")), add
                ),
            )
        if self.relabel_config:
            from victoriametrics_spark.streaming.relabel import relabel

            df = relabel(df, self.relabel_config)
            # rows relabeled to an empty metric name are skipped, like
            # the reference's empty-labels check after relabeling
            df = df.filter(F.coalesce(F.col("name"), F.lit("")) != "")
            n_rows = None
        backfill = self.max_backfill_age_ms
        if self.retention_ms > 0 and (
            backfill <= 0 or backfill > self.retention_ms
        ):
            backfill = self.retention_ms
        if backfill > 0 or self.future_retention_ms > 0:
            now = self._now_ms()
            lo = now - backfill if backfill > 0 else None
            hi = (
                now + self.future_retention_ms
                if self.future_retention_ms > 0
                else None
            )
            total = df.count() if n_rows is None else n_rows
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("ts") >= lo)
            if hi is not None:
                cond = cond & (F.col("ts") <= hi)
            df = df.filter(cond)
            n_rows = df.count()
            self.rows_ignored_total += total - n_rows
        if self.hourly_series_limiter or self.daily_series_limiter:
            df = self._apply_series_limiters(df)
            n_rows = None
        if self.names_tracker is not None:
            try:
                self.names_tracker.register_ingest(
                    r["name"] for r in df.select("name").distinct().collect()
                )
            except Exception:
                pass  # tracking must never fail a write
        if self.tenant == "multitenant":
            # tenant from the row's vm_account_id/vm_project_id labels
            # (defaults 0:0), labels stripped — the reference's
            # multitenant vminsert handlers
            lb = F.coalesce(F.col("labels"), F.expr("map()"))
            # canonicalize like parse_tenant: numeric labels parse as
            # integers ("01" -> 1, matching VM's uint32 parse), anything
            # non-numeric falls back to 0 so no unreachable partition
            # value is ever minted
            def _tenant_part(label):
                v = lb.getItem(label)
                n = F.when(
                    v.rlike("^\\d+$"), v.cast("long")
                ).otherwise(F.lit(0))
                return n.cast("string")

            df = df.withColumn(
                "tenant",
                F.concat(
                    _tenant_part("vm_account_id"),
                    F.lit(":"),
                    _tenant_part("vm_project_id"),
                ),
            ).withColumn(
                "labels",
                F.map_filter(
                    lb,
                    lambda k, v: ~k.isin("vm_account_id", "vm_project_id"),
                ),
            )
        elif self.tenant is not None:
            df = with_tenant(df, self.tenant)
        n = df.count() if n_rows is None else n_rows
        if self.sink is not None:
            self.sink(df, "samples")
        elif self.samples_table:
            from victoriametrics_spark.storage.layout import append_samples

            append_samples(df, self.samples_table)
        return n

    def _apply_series_limiters(self, df: DataFrame) -> DataFrame:
        """registerSeriesCardinality (storage.go:2151-2167): the
        batch's distinct series hashes (+ per-series row counts) are
        aggregated executor-side; the driver registers each into the
        hourly then daily limiter and rows of rejected NEW series are
        filtered out and counted. Rejected series stay unregistered,
        so they keep dropping for the rest of the window."""
        from victoriametrics_spark.schema import series_id

        sid = series_id(F.col("name"), F.col("labels"))
        per = (
            df.groupBy(sid.alias("__sid"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        dropped: set[int] = set()
        for r in per:
            h, n = r["__sid"], int(r["__n"])
            sl = self.hourly_series_limiter
            if sl is not None and not sl.add(h):
                sl.count_dropped(n)
                dropped.add(h)
                continue
            sl = self.daily_series_limiter
            if sl is not None and not sl.add(h):
                sl.count_dropped(n)
                dropped.add(h)
        if not dropped:
            return df
        if len(dropped) <= 1000:
            return df.filter(~sid.isin(*dropped))
        rej = self.spark.createDataFrame(
            [(h,) for h in dropped], "__sid long"
        )
        return df.withColumn("__sid", sid).join(
            F.broadcast(rej), "__sid", "left_anti"
        ).drop("__sid")

    def _write_logs(self, df: DataFrame) -> int:
        n = df.count()
        if self.sink is not None:
            self.sink(df, "logs")
        elif self.logs_table:
            from victoriametrics_spark.storage.layout import write_logs_table

            write_logs_table(df, self.logs_table, mode="append")
        return n

    # --------------------------------------------------------- metrics
    def write_remote(self, body: bytes, encoding: str = "") -> int:
        """POST /api/v1/write — protobuf remote write; snappy or zstd
        compressed with the reference's bidirectional fallback
        (promremotewrite/stream/streamparser.go:42-77). Decompression
        failures count into vm_protoparser_read_errors_total and
        surface as HTTP errors (415 when the body is zstd and no
        binding exists, 400 otherwise)."""
        from victoriametrics_spark.streaming.remotewrite import (
            decode_write_request_metadata,
            remote_write_to_samples,
            rw_uncompress,
        )

        try:
            raw = rw_uncompress(body, encoding)
        except Exception:
            self.read_errors_total["promremotewrite"] = (
                self.read_errors_total.get("promremotewrite", 0) + 1
            )
            raise
        try:
            self.metadata_store.add(
                decode_write_request_metadata(raw, compressed=False),
                tenant=self._metadata_tenant(),
            )
        except Exception:
            pass  # metadata is best-effort; samples still land
        payloads = self.spark.createDataFrame([(bytearray(raw),)], "payload binary")
        return self._write_samples(
            remote_write_to_samples(payloads, compressed=False)
        )

    def _metadata_tenant(self):
        if isinstance(self.tenant, str) and self.tenant != "multitenant":
            return self.tenant
        return None

    def import_lines(
        self,
        body: str,
        fmt: str,
        default_ts_ms: int = 0,
        extra_labels=None,
        precision: "str | None" = None,
    ) -> int:
        """POST /api/v1/import[...] & friends — line dialects."""
        from victoriametrics_spark.streaming import parsers as P

        if fmt == "jsonl":
            df = P.parse_vm_jsonl(self._lines_df(body))
        elif fmt == "prometheus":
            # HELP/TYPE comment lines feed the metadata registry (the
            # body is already driver-side here; comment volume is
            # per-family, presentation-sized)
            self.metadata_store.add_text(
                (ln for ln in body.splitlines() if ln.lstrip()[:1] == "#"),
                tenant=self._metadata_tenant(),
            )
            df = P.parse_prometheus_lines(
                self.spark, self._lines(body), default_ts_ms
            )
        elif fmt == "influx":
            df = P.parse_influx(
                self._lines_df(body),
                default_ts_ms=default_ts_ms or self._now_ms(),
                keep_line_id=True,
                precision=precision,
            )
        elif fmt == "graphite":
            df = P.parse_graphite(
                self._lines_df(body),
                default_ts_ms,
                sanitize_metric_name=self.graphite_sanitize_metric_name,
            )
        elif fmt == "opentsdb":
            df = P.parse_opentsdb(
                self._lines_df(body),
                default_ts_ms=default_ts_ms or self._now_ms(),
            )
        elif fmt == "zabbix":
            df = P.parse_zabbix(self._lines_df(body))
        else:
            raise ValueError(f"unknown import format {fmt!r}")
        df, n_rows = self._count_invalid_lines(df, fmt, body)
        return self._write_samples(df, extra_labels=extra_labels, n_rows=n_rows)

    # candidate-line predicates per text dialect: which body lines the
    # parser is EXPECTED to turn into rows — the shortfall is the
    # malformed-line count (parser.go errLogger-and-continue + the
    # vm_rows_invalid_total counters)
    _LINE_CANDIDATES = {
        "prometheus": lambda ln: not ln.startswith("#"),
        "influx": lambda ln: not ln.startswith("#"),
        "graphite": lambda ln: True,
        "opentsdb": lambda ln: ln.startswith("put "),
        "zabbix": lambda ln: True,
    }

    def _count_invalid_lines(
        self, df: DataFrame, fmt: str, body: str, counter_key: str | None = None
    ) -> "tuple[DataFrame, int | None]":
        """Checkpoint the parsed frame once (so the count and the write
        share the same evaluation), count parsed lines against the
        body's candidate lines (the body is already a driver string),
        and record the difference into ``rows_invalid_total``. Returns
        the frame and its row count, or None where no rows were counted
        (influx counts lines; a dialect without candidate lines is not
        checked)."""
        pred = self._LINE_CANDIDATES.get(fmt)
        if pred is None:
            return df, None
        total = sum(
            1
            for ln in body.splitlines()
            if ln.strip() and pred(ln.strip())
        )
        # the count below is the job that fills the checkpoint
        df = df.localCheckpoint(eager=False)
        if fmt == "influx":
            # multi-field lines explode to several rows; count LINES
            valid = df.select(
                F.count_distinct(F.col("__line_id"))
            ).first()[0]
            df = df.drop("__line_id")
            n_rows = None
        else:
            valid = n_rows = df.count()
        bad = max(0, total - int(valid or 0))
        if bad:
            key = counter_key or fmt
            self.rows_invalid_total[key] = (
                self.rows_invalid_total.get(key, 0) + bad
            )
        return df, n_rows

    def ingest_scrape(
        self,
        body: str,
        target_labels: dict,
        honor_labels: bool,
        ts_ms: int,
        metric_relabel_configs: "list | None" = None,
        sample_limit: int = 0,
        scrape_url: str = "",
        external_labels: "dict | None" = None,
        honor_timestamps: bool = False,
        stale_marker: bool = False,
        counts: "dict | None" = None,
    ) -> int:
        """Scrape-body ingest (lib/promscrape/scrapework.go): the
        exposition parse of /api/v1/import/prometheus plus the target's
        identity labels — honor_labels=false renames clashing body
        labels to exported_<name> so the target's job/instance win;
        honor_labels=true keeps body labels and only fills gaps.
        metric_relabel_configs apply AFTER the identity labels attach;
        global->external_labels attach after the relabeling with the
        same honor_labels duplicate handling (scrapework.go:1159-1162,
        appendExtraLabels); a post-relabel sample count above
        sample_limit fails the whole scrape before anything lands
        (scrapework.go:556-562)."""
        from victoriametrics_spark.streaming import parsers as P
        from victoriametrics_spark.streaming.scraper import (
            ingest_scrape_labels,
        )

        self.metadata_store.add_text(
            (ln for ln in body.splitlines() if ln.lstrip()[:1] == "#"),
            tenant=self._metadata_tenant(),
        )
        df = P.parse_prometheus_lines(self.spark, self._lines(body), ts_ms)
        # a malformed exposition line in a scrape body drops that line
        # only — never the whole scrape (scrapework.go keeps the rest)
        df, n_rows = self._count_invalid_lines(
            df, "prometheus", body, counter_key="promscrape"
        )
        if counts is not None:
            # parsed-row count for scrape_samples_scraped
            counts["parsed"] = n_rows
        # honor_timestamps is FALSE by default, contrary to Prometheus
        # (config.go:299-302): body timestamps are replaced with the
        # scrape timestamp; when honored, a literal 0 timestamp still
        # takes the scrape time (scrapework.go:1169)
        if not honor_timestamps:
            df = df.withColumn("ts", F.lit(int(ts_ms)))
        else:
            df = df.withColumn(
                "ts",
                F.when(F.col("ts") == 0, F.lit(int(ts_ms))).otherwise(
                    F.col("ts")
                ),
            )
        df = df.withColumn(
            "labels", ingest_scrape_labels(target_labels, honor_labels)
        )
        if metric_relabel_configs:
            from victoriametrics_spark.streaming.relabel import relabel

            df = relabel(df, metric_relabel_configs)
            df = df.filter(F.coalesce(F.col("name"), F.lit("")) != "")
            n_rows = None
            if counts is not None:
                counts["post_relabel"] = n_rows = df.count()
        if external_labels:
            df = df.withColumn(
                "labels",
                ingest_scrape_labels(external_labels, honor_labels),
            )
        if stale_marker:
            # Prometheus staleness markers for disappeared series
            # (scrapework.go sendStaleSeries + setStaleMarkersForRows):
            # same identity pipeline as a live scrape, but every row's
            # value becomes the stale marker at the REAL timestamp
            df = df.select(
                "name",
                "labels",
                F.lit(int(ts_ms)).alias("ts"),
                F.lit(float("nan")).alias("value"),
                F.lit(True).alias("is_stale"),
            )
        if sample_limit > 0:
            # materialize once — the limit check and the write share
            # the same executor-cached rows instead of running the
            # parse+relabel pipeline twice per scrape
            df = df.localCheckpoint(eager=True)
            n_rows = df.count()
            if n_rows > sample_limit:
                raise SampleLimitError(
                    f"the response from {scrape_url!r} exceeds "
                    f"sample_limit={sample_limit}; either reduce the "
                    "sample count for the target or increase "
                    "sample_limit",
                    samples=n_rows,
                )
        return self._write_samples(df, n_rows=n_rows)

    def import_csv(  # noqa: C901
        self, body: str, format_spec: str, extra_labels=None
    ) -> int:
        """POST /api/v1/import/csv?format=... — the csvimport column
        spec (lib/protoparser/csvimport/): comma-separated
        ``<pos>:<kind>[:<arg>]`` entries, kind ∈ {metric, label, time};
        time kinds unix_s / unix_ms / rfc3339 supported."""
        from victoriametrics_spark.streaming.parsers import parse_csv_import

        entries: list = []
        ts_col = None
        ts_kind = "unix_ms"
        max_pos = 0
        for part in format_spec.split(","):
            bits = part.strip().split(":", 2)
            if len(bits) < 2:
                raise ValueError(f"invalid format entry {part!r}")
            pos = int(bits[0])
            max_pos = max(max_pos, pos)
            kind = bits[1]
            if kind == "time":
                ts_col = pos
                if len(bits) > 2:
                    ts_kind = bits[2]
            elif kind in ("metric", "label"):
                if len(bits) < 3:
                    raise ValueError(f"{part!r}: missing name")
                entries.append((pos, f"{kind}:{bits[2]}"))
            else:
                raise ValueError(f"unknown column kind {kind!r}")
        if not any(r.startswith("metric:") for _, r in entries):
            raise ValueError("format needs at least one metric column")
        from victoriametrics_spark.streaming.parsers import (
            _try_double,
            parse_csv_lines,
        )

        lines = self._lines_df(body)
        # quote-aware split (csvimport/scanner.go: "-/'-quoted fields,
        # doubled-quote escapes); __bad marks scanner/column-count
        # failures, which skip-and-count the LINE (parser.go:172-198)
        # checkpoint the raw parsed columns FIRST: try_to_timestamp
        # fails to resolve over the fast/slow union plan (the same
        # Spark analysis corner as the transform-struct field names),
        # and the invalid-count below re-reads this frame anyway
        df = parse_csv_lines(lines, max_pos).localCheckpoint(eager=True)
        tc = F.col(f"c{ts_col}") if ts_col is not None else None
        if ts_col is None:
            # no time column: rows take the ingest time, like the
            # stream layer's Timestamp==0 fill
            ts_expr = F.lit(self._now_ms()).cast("long")
        elif ts_kind == "unix_s":
            # the reference rejects second-timestamps whose ms value
            # would overflow int64 (template.go getTimestamp guard)
            sec = tc.try_cast("bigint")
            ts_expr = F.when(
                F.abs(sec) <= (2**63 - 1) // 1000, sec * 1000
            ).cast("long")
        elif ts_kind == "unix_ms":
            ts_expr = tc.try_cast("long")
        elif ts_kind == "unix_ns":
            ts_expr = F.expr(
                f"try_cast(c{ts_col} AS BIGINT) div 1000000"
            )
        elif ts_kind == "rfc3339":
            ts_expr = F.unix_millis(F.try_to_timestamp(tc))
        elif ts_kind.startswith("custom:"):
            # csvimport custom time layouts use Go's reference-time
            # syntax (lib/protoparser/csvimport/column_descriptor.go);
            # translate to a Java pattern and probe it once — an
            # untranslatable layout makes every line invalid, like the
            # reference's per-line parse errors
            pattern = _go_layout_to_java(ts_kind[len("custom:"):])
            ok = False
            if pattern is not None:
                try:
                    self.spark.sql(
                        "SELECT try_to_timestamp('x', '"
                        + pattern.replace("'", "''")
                        + "')"
                    ).collect()
                    ok = True
                except Exception:  # noqa: BLE001 — invalid pattern
                    ok = False
            sql_pat = pattern.replace('"', '\\"') if pattern else ""
            ts_expr = (
                F.unix_millis(
                    F.expr(
                        f'try_to_timestamp(c{ts_col}, "{sql_pat}")'
                    )
                )
                if ok
                else F.lit(None).cast("long")
            )
        else:
            raise ValueError(f"unsupported time kind {ts_kind!r}")
        # parse into a NEW column: replacing c<ts_col> with a
        # RuntimeReplaceable expression referencing itself trips a
        # Spark resolution bug ("gettimestamp ... unresolved")
        df = df.withColumn("__ts_ms", ts_expr)
        line_bad = F.col("__bad") | F.col("__ts_ms").isNull()
        for pos, role in entries:
            if role.startswith("metric:"):
                c = F.col(f"c{pos}")
                # empty column → column skipped, line kept; non-empty
                # garbage → whole line invalid (parser.go:162-176)
                line_bad = line_bad | (
                    (F.trim(c) != "") & _try_double(c).isNull()
                )
        eff_ts_col = ts_col if ts_col is not None else max_pos + 1
        df = df.withColumn("__line_bad", line_bad)
        bad = df.filter(F.col("__line_bad")).count()
        if bad:
            self.rows_invalid_total["csvimport"] = (
                self.rows_invalid_total.get("csvimport", 0) + int(bad)
            )
        good = df.filter(~F.col("__line_bad"))
        for pos, role in entries:
            if role.startswith("metric:"):
                good = good.withColumn(
                    f"c{pos}", _try_double(F.col(f"c{pos}"))
                )
        # positional frame for parse_csv_import: c1..cN with the
        # parsed timestamp swapped in (or appended at N+1 when the
        # format has no time column)
        ordered = [
            F.col("__ts_ms").alias(f"c{i}")
            if i == eff_ts_col
            else F.col(f"c{i}")
            for i in range(1, max_pos + 1)
        ]
        if ts_col is None:
            ordered.append(F.col("__ts_ms").alias(f"c{eff_ts_col}"))
        return self._write_samples(
            parse_csv_import(good.select(*ordered), entries, eff_ts_col),
            extra_labels=extra_labels,
        )

    def import_native(self, raw: bytes, extra_labels=None) -> int:
        """POST /api/v1/import/native — round-trips /api/v1/export/native
        (the engine's native format is a parquet blob of
        (name, labels, ts, value))."""
        import os as _os
        import shutil as _shutil
        import tempfile as _tempfile

        d = _tempfile.mkdtemp(prefix="vmspark_native_in_")
        try:
            p = _os.path.join(d, "in.parquet")
            with open(p, "wb") as fh:
                fh.write(raw)
            df = self.spark.read.parquet(p)
            need = {"name", "labels", "ts", "value"}
            if not need <= set(df.columns):
                raise ValueError(
                    "native import needs columns (name, labels, ts, value)"
                )
            out = df.select("name", "labels", "ts", "value").withColumn(
                "is_stale", F.lit(False)
            )
            # detach from the staging file EXECUTOR-side (block-manager
            # checkpoint, distributed): the import never round-trips
            # through driver memory, so a multi-GB native blob streams
            # through executors only, and a deferred sink can still read
            # the frame after the temp dir is gone
            out = out.localCheckpoint(eager=True)
            return self._write_samples(out, extra_labels=extra_labels)
        finally:
            _shutil.rmtree(d, ignore_errors=True)

    # ------------------------------------------------------------ logs
    def insert_logs(
        self,
        body: str,
        dialect: str,
        stream_fields: "list[str] | None" = None,
        msg_field: str | None = None,
        time_field: str | None = None,
        ignore_fields: "list[str] | None" = None,
        extra_fields: "list[str] | None" = None,
    ) -> int:
        """POST /insert/{jsonline, elasticsearch/_bulk, loki, syslog,
        opentelemetry/v1/logs}. ``stream_fields`` / ``msg_field`` /
        ``time_field`` are the documented VictoriaLogs ingest args
        (``_stream_fields``, ``_msg_field``, ``_time_field``): which
        JSON keys carry the message/timestamp, and which fields form
        the log-stream identity (materialized as the canonical
        ``_stream`` column). ``ignore_fields`` drops the named fields
        from every row; ``extra_fields`` ("k=v" entries) adds them —
        both documented HTTP ingest args."""
        from victoriametrics_spark.streaming import logparsers as L

        if dialect == "jsonline":
            df = L.parse_jsonline(
                self._lines_df(body),
                msg_field=msg_field or "_msg",
                time_field=time_field or "_time",
            )
        elif dialect == "elasticsearch":
            df = L.parse_elasticsearch_bulk(
                self._lines_df(body),
                msg_field=msg_field or "message",
                time_field=time_field or "@timestamp",
            )
        elif dialect == "loki":
            df = L.parse_loki_push(
                self.spark.createDataFrame([(body,)], ["value"])
            )
        elif dialect == "syslog":
            import datetime as _dt

            recv = _dt.datetime.fromtimestamp(
                self._now_ms() / 1000.0, tz=_dt.timezone.utc
            )
            df = L.parse_syslog_lines(
                self._lines_df(body), year=recv.year
            )
        elif dialect == "opentelemetry":
            df = L.parse_otlp_logs(
                self.spark.createDataFrame([(body,)], ["value"])
            )
        else:
            raise ValueError(f"unknown log dialect {dialect!r}")
        # rows whose protocol timestamp is absent/unparseable get the
        # receive time (VictoriaLogs falls back the same way) instead
        # of landing invisible in a date=null partition
        df = df.withColumn(
            "_time",
            F.coalesce(
                F.col("_time"),
                F.timestamp_millis(F.lit(int(self._now_ms()))),
            ),
        )
        if ignore_fields:
            drop = [f for f in ignore_fields if f]
            df = df.withColumn(
                "fields",
                F.map_filter(
                    F.col("fields"),
                    lambda k, v: ~k.isin(*drop),
                ),
            )
        if extra_fields:
            pairs = [
                kv.split("=", 1) for kv in extra_fields if "=" in kv
            ]
            if pairs:
                add = F.create_map(
                    *[F.lit(x) for kv in pairs for x in kv]
                )
                df = df.withColumn(
                    "fields", F.map_concat(F.col("fields"), add)
                )
        if stream_fields:
            df = L.with_stream_fields(df, stream_fields)
        return self._write_logs(df)


# ---------------------------------------------------------------- server
def serve(api: PromAPI, port: int = 8428, host: str = "127.0.0.1", logs_api: "LogsAPI | None" = None, ingest_api: "IngestAPI | None" = None, browse_api: "GraphiteBrowseAPI | None" = None, tenant_table: str | None = None, multitenancy_via_headers: bool = False, auth_keys: "dict[str, str] | None" = None, max_concurrent_requests: int = 0, max_queue_duration_s: float = 10.0, scrape_configs: "list | None" = None, scraper=None, notifier_urls: "list[str] | None" = None, notifier_runner=None, notifier_interval_s: float = 30.0, graphite_listen_port: "int | None" = None, opentsdb_listen_port: "int | None" = None, influx_listen_port: "int | None" = None):
    """Dependency-free HTTP server over PromAPI. Returns the server
    object (call ``.serve_forever()`` or use it from a thread; tests use
    ``.handle_request()``).

    ``max_concurrent_requests`` is the -search.maxConcurrentRequests
    analog (app/vmselect/main.go:117-151): at most that many dynamic
    select requests execute at once; an excess request waits up to
    ``min(its maxQueryDuration, max_queue_duration_s)`` for a slot
    (resolving short bursts, the -search.maxQueueDuration analog) and
    then fails with 429 + ``Retry-After: 10`` and the reference's
    message. 0 disables the limiter. Static/simple requests (health,
    buildinfo, flags) are never limited, as in the reference.

    With ``tenant_table`` set (a multi-tenant bucketed samples table),
    the cluster-style tenant routes activate:
    ``/select/<accountID[:projectID]>/prometheus/...`` scopes reads to
    one tenant, ``/select/multitenant/prometheus/...`` searches every
    tenant with (vm_account_id, vm_project_id) labels attached, and
    ``/insert/<token>/...`` scopes writes (app/vmselect + app/vminsert
    multitenant routing).

    ``scrape_configs`` is the -promscrape.config analog: a list of
    scrape-config dicts (static_configs subset) starts an embedded
    background scraper writing through ``ingest_api`` and reporting
    real target state at /api/v1/targets; it stops with the server's
    ``shutdown()``. Pass a pre-built ``scraper`` instead to share or
    control one externally."""

    if scraper is None and scrape_configs:
        from victoriametrics_spark.streaming.scraper import Scraper

        if ingest_api is None:
            raise ValueError("scrape_configs requires an ingest_api")
        scraper = Scraper(ingest_api, scrape_configs)
        scraper.start()

    # -notifier.url analog: alerting rules fire real notifications from
    # a background rule-tick loop (vmalert group eval + notifier send)
    if notifier_runner is None and notifier_urls:
        from victoriametrics_spark.notifier import (
            AlertmanagerNotifier,
            RulesNotifierRunner,
        )

        notifier_runner = RulesNotifierRunner(
            api,
            AlertmanagerNotifier(list(notifier_urls)),
            interval_s=notifier_interval_s,
        )
        notifier_runner.start()

    label_values_re = re.compile(r"^/api/v1/label/([^/]+)/values$")
    tenant_re = re.compile(r"^\d+(:\d+)?$")
    # admin-route authKey protection (httpserver.CheckAuthFlag): map of
    # flag name -> secret; a set key demands a matching ?authKey= on
    # its routes: deleteAuthKey (delete_series, /tags/delSeries),
    # snapshotAuthKey (/snapshot*), forceMergeAuthKey
    # (/internal/force_merge), metricNamesStatsResetAuthKey
    auth_keys = auth_keys or {}

    import threading as _threading

    conc_sem = (
        _threading.Semaphore(int(max_concurrent_requests))
        if max_concurrent_requests > 0
        else None
    )
    # requests the reference serves from handleStaticAndSimpleRequests
    # (app/vmselect/main.go:107) — never queued behind the limiter
    static_simple = frozenset((
        "/health", "/ready", "/-/healthy", "/-/ready", "/ping",
        "/buildinfo", "/api/v1/status/buildinfo", "/flags", "/metrics",
    ))

    # /metrics self-exposition state (the vm_http_requests_total /
    # vm_concurrent_select_* family, lib/httpserver + vmselect main.go)
    metrics_lock = _threading.Lock()
    req_counts: dict[str, int] = {}
    limiter_counters = {"reached": 0, "timeout": 0}
    server_start = __import__("time").time()

    def count_request(path: str) -> None:
        with metrics_lock:
            req_counts[path] = req_counts.get(path, 0) + 1

    def render_self_metrics() -> str:
        import time as _time

        lines = [
            "# TYPE vm_app_uptime_seconds gauge",
            f"vm_app_uptime_seconds {_time.time() - server_start:.3f}",
            "# TYPE process_start_time_seconds gauge",
            f"process_start_time_seconds {server_start:.3f}",
        ]
        if conc_sem is not None:
            inflight = max_concurrent_requests - conc_sem._value
            lines += [
                "# TYPE vm_concurrent_select_capacity gauge",
                f"vm_concurrent_select_capacity {max_concurrent_requests}",
                "# TYPE vm_concurrent_select_current gauge",
                f"vm_concurrent_select_current {inflight}",
            ]
        # exact count of the driver JVM, which in local mode also runs
        # the executors; on a cluster each executor counts its own
        lines += [
            "# TYPE vm_spark_codegen_compilations_total counter",
            "vm_spark_codegen_compilations_total "
            f"{codegen_compilations(api.spark)}",
        ]
        with metrics_lock:
            lines.append("# TYPE vm_concurrent_select_limit_reached_total counter")
            lines.append(
                "vm_concurrent_select_limit_reached_total "
                f"{limiter_counters['reached']}"
            )
            lines.append("# TYPE vm_concurrent_select_limit_timeout_total counter")
            lines.append(
                "vm_concurrent_select_limit_timeout_total "
                f"{limiter_counters['timeout']}"
            )
            if ingest_api is not None:
                lines.append("# TYPE vm_rows_ignored_total counter")
                lines.append(
                    f"vm_rows_ignored_total {ingest_api.rows_ignored_total}"
                )
                if ingest_api.read_errors_total:
                    lines.append(
                        "# TYPE vm_protoparser_read_errors_total counter"
                    )
                    for typ, n in sorted(
                        ingest_api.read_errors_total.items()
                    ):
                        lines.append(
                            "vm_protoparser_read_errors_total"
                            f'{{type="{typ}"}} {n}'
                        )
                if ingest_api.rows_invalid_total:
                    # per-dialect malformed-line counters
                    # (prometheus/parser.go:284 invalidLines analog)
                    lines.append("# TYPE vm_rows_invalid_total counter")
                    for typ, n in sorted(
                        ingest_api.rows_invalid_total.items()
                    ):
                        lines.append(
                            f'vm_rows_invalid_total{{type="{typ}"}} {n}'
                        )
                for scope, sl in (
                    ("hourly", ingest_api.hourly_series_limiter),
                    ("daily", ingest_api.daily_series_limiter),
                ):
                    if sl is None:
                        continue
                    # app/vmstorage/main.go:506-514 gauge/counter family
                    lines += [
                        f"# TYPE vm_{scope}_series_limit_current_series gauge",
                        f"vm_{scope}_series_limit_current_series "
                        f"{sl.current_items()}",
                        f"# TYPE vm_{scope}_series_limit_max_series gauge",
                        f"vm_{scope}_series_limit_max_series {sl.max_items}",
                        f"# TYPE vm_{scope}_series_limit_rows_dropped_total"
                        " counter",
                        f"vm_{scope}_series_limit_rows_dropped_total "
                        f"{sl.rows_dropped_total}",
                    ]
            lines.append("# TYPE vm_http_requests_total counter")
            for path in sorted(req_counts):
                esc = path.replace("\\", "\\\\").replace('"', '\\"')
                lines.append(
                    f'vm_http_requests_total{{path="{esc}"}} '
                    f"{req_counts[path]}"
                )
        return "\n".join(lines) + "\n"

    def auth_flag_for(path: str) -> str | None:
        if path == "/api/v1/admin/tsdb/delete_series" or path == "/tags/delSeries":
            return "deleteAuthKey"
        if path.startswith("/snapshot") or path == "/api/v1/admin/tsdb/snapshot":
            return "snapshotAuthKey"
        if path == "/internal/force_merge":
            return "forceMergeAuthKey"
        if path in (
            "/api/v1/status/metric_names_stats/reset",
            "/api/v1/admin/status/metric_names_stats/reset",
        ):
            return "metricNamesStatsResetAuthKey"
        return None
    default_api, default_ingest = api, ingest_api
    # with -storage.trackMetricNamesStats on, ingest registers names
    # into the SAME tracker the status route serves
    if (
        ingest_api is not None
        and api.track_metric_names
        and ingest_api.names_tracker is None
    ):
        ingest_api.names_tracker = api.names_tracker

    def header_tenant(handler) -> str | None:
        """-enableMultitenancyViaHeaders: AccountID/ProjectID HTTP
        headers select the tenant (multitenancy_via_headers_test.go) —
        a missing header defaults to 0; AccountID: multitenant searches
        every tenant."""
        if not (multitenancy_via_headers and tenant_table):
            return None
        acc = handler.headers.get("AccountID")
        proj = handler.headers.get("ProjectID")
        if acc is None and proj is None:
            return None
        if acc == "multitenant":
            return "multitenant"
        return f"{acc or 0}:{proj or 0}"

    def tenant_select_api(token: str) -> PromAPI:
        from victoriametrics_spark.storage.layout import (
            read_samples_multitenant,
            read_samples_table,
        )

        if token == "multitenant":
            df = read_samples_multitenant(default_api.spark, tenant_table)
        else:
            df = read_samples_table(
                default_api.spark, tenant_table, tenant=token
            )
        return PromAPI(
            default_api.spark,
            df,
            max_lookback_ms=default_api.max_lookback_ms,
            dedup_interval_ms=default_api.dedup_interval_ms,
            max_unique_timeseries=default_api.max_unique_timeseries,
            max_series=default_api.max_series,
            max_samples_per_query=default_api.max_samples_per_query,
            max_samples_per_series=default_api.max_samples_per_series,
            max_points_per_timeseries=default_api.max_points_per_timeseries,
            track_metric_names=default_api.track_metric_names,
            names_tracker=default_api.names_tracker,
        )

    # tenant-routed ingest shares every guard/config of the default
    # IngestAPI — a tenant route must not bypass relabeling, retention
    # guards, or the metadata/name registries
    _shared_meta_store = (
        ingest_api.metadata_store if ingest_api is not None else None
    )
    if _shared_meta_store is None and tenant_table:
        from victoriametrics_spark.storage.metadata import (
            MetricsMetadataStore,
        )

        _shared_meta_store = MetricsMetadataStore()

    def _tenant_ingest_api_inner(token: str) -> "IngestAPI":
        src = ingest_api
        return IngestAPI(
            default_api.spark,
            samples_table=tenant_table,
            tenant=token,
            metadata_store=_shared_meta_store,
            names_tracker=(src.names_tracker if src is not None else None),
            relabel_config=(src.relabel_config if src is not None else None),
            retention_ms=(src.retention_ms if src is not None else 0),
            future_retention_ms=(
                src.future_retention_ms if src is not None else 0
            ),
            max_backfill_age_ms=(
                src.max_backfill_age_ms if src is not None else 0
            ),
            now_ms_fn=(src._now_ms if src is not None else None),
        )

    def tenant_ingest_api(token: str) -> "IngestAPI":
        api_t = _tenant_ingest_api_inner(token)
        # the series limiters are storage-GLOBAL in the reference
        # (-storage.maxHourlySeries caps the whole storage, not one
        # tenant) — share the default IngestAPI's limiter OBJECTS so
        # tenant-routed writes consume the same budget
        if ingest_api is not None:
            api_t.hourly_series_limiter = ingest_api.hourly_series_limiter
            api_t.daily_series_limiter = ingest_api.daily_series_limiter
        return api_t

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, code: int, body: str, ctype="application/json"):
            data = body.encode()
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _send_stream(
            self, lines, ctype, sep="\n", prefix="", suffix="",
        ):
            """Stream an iterator of text lines to the socket without
            Content-Length (HTTP/1.0: connection close ends the body) —
            the exports hold one Spark partition of lines driver-side
            at a time instead of the whole result, matching the
            reference's bufferedwriter streaming. Lines are coalesced
            into ~64 KiB writes.

            The FIRST line is pulled before any byte goes out, so the
            dominant failure (first Spark job of the scan) still
            surfaces as a clean 422 from the outer handler. A failure
            after that aborts the connection WITHOUT writing a second
            status line into the 200 body — a truncated close-delimited
            response, exactly how the reference's streaming
            bufferedwriter fails mid-flight."""
            it = iter(lines)
            try:
                first_line = next(it)
            except StopIteration:
                first_line = None
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.end_headers()
            try:
                buf: list[str] = [prefix] if prefix else []
                size = len(prefix)
                first = True
                if first_line is not None:
                    buf.append(first_line)
                    size += len(first_line)
                    first = False
                for line in it:
                    if not first:
                        buf.append(sep)
                    first = False
                    buf.append(line)
                    size += len(line) + len(sep)
                    if size >= 65536:
                        self.wfile.write("".join(buf).encode())
                        buf, size = [], 0
                if suffix:
                    buf.append(suffix)
                if buf:
                    self.wfile.write("".join(buf).encode())
            except Exception:  # noqa: BLE001
                # mid-stream failure: the 200 line is out; drop the
                # connection so the client sees truncation, never a
                # second status line spliced into the body
                try:
                    self.wfile.flush()
                except Exception:
                    pass
                self.close_connection = True
                try:
                    self.connection.close()
                except Exception:
                    pass

        def do_GET(self):  # noqa: N802
            """Concurrency-limited entry (vmselect main.go:117-151):
            dynamic requests take a limiter slot; a full limiter queues
            the request up to min(its maxQueryDuration, the queue
            duration) before 429ing. POST selects delegate here, so
            they ride the same limiter."""
            path = urlparse(self.path).path
            for pfx in ("/prometheus", "/graphite"):
                if path.startswith(pfx + "/"):
                    path = path[len(pfx):]
            count_request(path)
            if path == "/metrics":
                self._send(
                    200, render_self_metrics(),
                    "text/plain; charset=utf-8",
                )
                return
            if conc_sem is None:
                return self._do_get_dispatch()
            if path in static_simple:
                return self._do_get_dispatch()
            if not conc_sem.acquire(blocking=False):
                with metrics_lock:
                    limiter_counters["reached"] += 1
                # short-burst queue: wait up to
                # min(request maxQueryDuration, -search.maxQueueDuration)
                d = float(max_queue_duration_s)
                try:
                    t = parse_qs(urlparse(self.path).query).get(
                        "timeout", [""]
                    )[0]
                    if t:
                        d = min(d, _parse_step(t) / 1000.0)
                except Exception:
                    pass
                if default_api.max_query_duration_ms > 0:
                    d = min(d, default_api.max_query_duration_ms / 1000.0)
                if not conc_sem.acquire(timeout=max(d, 0.0)):
                    with metrics_lock:
                        limiter_counters["timeout"] += 1
                    self.send_response(429)
                    msg = (
                        f"couldn't start executing the request in "
                        f"{d:.3f} seconds, since -search."
                        f"maxConcurrentRequests={max_concurrent_requests} "
                        "concurrent requests are executed. Possible "
                        "solutions: to reduce query load; to add more "
                        "compute resources to the server; to increase "
                        f"-search.maxQueueDuration={max_queue_duration_s}s; "
                        "to increase -search.maxQueryDuration; to "
                        "increase -search.maxConcurrentRequests"
                    )
                    data = msg.encode()
                    self.send_header("Retry-After", "10")
                    self.send_header(
                        "Content-Type", "text/plain; charset=utf-8"
                    )
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                    return
            try:
                return self._do_get_dispatch()
            finally:
                conc_sem.release()

        def _do_get_dispatch(self):
            api = default_api
            u = urlparse(self.path)
            q = parse_qs(u.query)
            sel_tenant = None
            htok = header_tenant(self)
            if htok is not None:
                try:
                    api = tenant_select_api(htok)
                    sel_tenant = htok
                except Exception as e:
                    self._send(
                        400, json.dumps({"status": "error", "error": str(e)})
                    )
                    return
            # cluster-style tenant routing:
            # /select/<token>/{prometheus,graphite}/<rest>
            if tenant_table and u.path.startswith("/select/"):
                parts = u.path.split("/", 4)
                if (
                    len(parts) >= 5
                    and (parts[2] == "multitenant" or tenant_re.match(parts[2]))
                    and parts[3] in ("prometheus", "graphite")
                ):
                    try:
                        api = tenant_select_api(parts[2])
                    except Exception as e:
                        self._send(
                            400,
                            json.dumps(
                                {"status": "error", "error": str(e)}
                            ),
                        )
                        return
                    sel_tenant = parts[2]
                    u = u._replace(path="/" + parts[4])
            # reference main.go strips a "/graphite" prefix so
            # /graphite/metrics/find == /metrics/find etc.; same for
            # the "/prometheus" prefix every route is also served under
            if u.path.startswith("/graphite/"):
                u = u._replace(path=u.path[len("/graphite"):])
            elif u.path.startswith("/prometheus/"):
                u = u._replace(path=u.path[len("/prometheus"):])

            flag = auth_flag_for(u.path)
            if flag is not None and auth_keys.get(flag):
                provided = q.get("authKey", [""])[0]
                if not provided:
                    self._send(
                        401,
                        f"Expected to receive non-empty authKey when "
                        f"-{flag} is set",
                        ctype="text/plain; charset=utf-8",
                    )
                    return
                if provided != auth_keys[flag]:
                    self._send(
                        401,
                        f"The provided authKey doesn't match -{flag}",
                        ctype="text/plain; charset=utf-8",
                    )
                    return

            def p(name, default=None):
                return q.get(name, [default])[0]

            matches = q.get("match[]", [])
            try:
                enforced = api.enforced_from_params(
                    q.get("extra_label", []), q.get("extra_filters[]", [])
                )
                if u.path == "/api/v1/query_range":
                    out = api.query_range(
                        p("query"),
                        p("start"),
                        p("end"),
                        p("step"),
                        trace=p("trace", "") == "1",
                        enforced=enforced,
                        max_lookback=p("max_lookback"),
                        may_cache=p("nocache", "") not in ("1", "true"),
                        timeout=p("timeout"),
                        latency_offset=p("latency_offset"),
                        round_digits=_round_digits(p("round_digits")),
                    )
                elif u.path == "/api/v1/query":
                    out = api.query(
                        p("query"),
                        p("time"),
                        step=p("step"),
                        trace=p("trace", "") == "1",
                        enforced=enforced,
                        max_lookback=p("max_lookback"),
                        timeout=p("timeout"),
                        latency_offset=p("latency_offset"),
                        may_cache=p("nocache", "") not in ("1", "true"),
                        round_digits=_round_digits(p("round_digits")),
                    )
                elif u.path == "/api/v1/series":
                    out = api.series(
                        matches, p("start"), p("end"), enforced=enforced,
                        limit=int(p("limit", "0")),
                    )
                elif u.path == "/api/v1/labels":
                    out = api.labels(
                        matches, p("start"), p("end"), enforced=enforced,
                        limit=int(p("limit", "0")),
                    )
                elif m := label_values_re.match(u.path):
                    out = api.label_values(
                        unquote(m.group(1)),
                        matches,
                        p("start"),
                        p("end"),
                        enforced=enforced,
                        limit=int(p("limit", "0")),
                    )
                elif u.path in ("/api/v1/rules", "/rules"):
                    # bare /rules and /alerts are served as aliases
                    # (vmselect main.go:563,576)
                    out = api.rules(
                        type=p("type"),
                        rule_name=q.get("rule_name[]") or None,
                        exclude_alerts=(
                            (p("exclude_alerts") or "").lower() == "true"
                        ),
                    )
                elif u.path in (
                    "/api/v1/alerts", "/alerts", "/vmalert/api/v1/alerts",
                ):
                    out = api.alerts(p("time"), match=matches or None)
                elif u.path in ("/api/v1/alert", "/vmalert/api/v1/alert"):
                    # single-alert lookup by the ids /api/v1/alerts
                    # serves (vmalert web.go:180-193 getAlert)
                    out = api.get_alert(
                        p("group_id"), p("alert_id"), time=p("time")
                    )
                    if out is None:
                        self._send(
                            404,
                            json.dumps(
                                {"status": "error", "error": "alert not found"}
                            ),
                        )
                        return
                elif u.path in (
                    "/api/v1/notifiers", "/vmalert/api/v1/notifiers",
                ):
                    # vmalert web.go:140 listNotifiers
                    out = (
                        notifier_runner.notifier.api_notifiers()
                        if notifier_runner is not None
                        else {
                            "status": "success",
                            "data": {"notifiers": []},
                        }
                    )
                elif u.path == "/api/v1/status/tsdb":
                    out = api.tsdb_status(
                        int(p("topN", "10")),
                        p("focusLabel"),
                        matches,
                        p("start"),
                        p("end"),
                        date=p("date"),
                    )
                elif u.path == "/api/v1/export":
                    fmt = p("format", "")
                    if fmt == "prometheus":
                        lines = api.export_prometheus(
                            matches, p("start"), p("end"), enforced=enforced,
                            reduce_mem_usage=p("reduce_mem_usage", "")
                            in ("1", "true"),
                        )
                        self._send_stream(
                            lines, "text/plain; charset=utf-8",
                        )
                        return
                    mrpl = int(p("max_rows_per_line", "0") or 0)
                    lines = api.export_jsonl(
                        matches, p("start"), p("end"), enforced=enforced,
                        max_rows_per_line=mrpl,
                        reduce_mem_usage=p("reduce_mem_usage", "")
                        in ("1", "true"),
                    )
                    if fmt == "promapi":
                        # export.qtpl ExportPromAPIHeader/Footer envelope
                        self._send_stream(
                            lines, "application/json", sep=",",
                            prefix='{"status":"success","data":'
                            '{"resultType":"matrix","result":[',
                            suffix="]}}",
                        )
                        return
                    self._send_stream(lines, "application/stream+json")
                    return
                elif u.path == "/api/v1/export/csv":
                    lines = api.export_csv(
                        matches,
                        p("format", ""),
                        p("start"),
                        p("end"),
                        enforced=enforced,
                    )
                    self._send_stream(
                        lines, "text/csv; charset=utf-8", suffix="\n",
                    )
                    return
                elif u.path == "/api/v1/export/native":
                    blob = api.export_native(
                        matches, p("start"), p("end"), enforced=enforced
                    )
                    self.send_response(200)
                    self.send_header("Content-Type", "application/octet-stream")
                    self.send_header("Content-Length", str(len(blob)))
                    self.end_headers()
                    self.wfile.write(blob)
                    return
                elif u.path == "/api/v1/series/count":
                    out = api.series_count()
                elif u.path == "/api/v1/metadata":
                    # store keys are canonical parse_tenant tokens
                    # ("5" -> "5:0"); the default route reads the
                    # default ingest tenant's keyspace
                    md_tenant = sel_tenant
                    if md_tenant is None and ingest_api is not None:
                        md_tenant = ingest_api._metadata_tenant()
                    elif md_tenant is not None and md_tenant != "multitenant":
                        md_tenant = parse_tenant(md_tenant)
                    out = api.metadata(
                        metric=p("metric"),
                        limit=p("limit", "0"),
                        store=(
                            _shared_meta_store
                            if _shared_meta_store is not None
                            else (
                                ingest_api.metadata_store
                                if ingest_api is not None
                                else None
                            )
                        ),
                        tenant=md_tenant,
                    )
                elif u.path in (
                    "/api/v1/buildinfo",
                    "/api/v1/status/buildinfo",
                ):
                    out = api.buildinfo()
                elif u.path == "/api/v1/query_exemplars":
                    out = api.query_exemplars()
                elif u.path == "/api/v1/status/top_queries":
                    out = api.top_queries(int(p("topN", "20")))
                elif u.path == "/api/v1/status/active_queries":
                    out = api.active_queries()
                elif u.path in (
                    "/api/v1/status/metric_names_stats/reset",
                    "/api/v1/admin/status/metric_names_stats/reset",
                ):
                    out = api.reset_metric_names_stats()
                elif u.path == "/api/v1/status/metric_names_stats":
                    out = api.metric_names_stats(
                        int(p("limit", "1000")),
                        p("match_pattern"),
                        le=int(p("le", "-1")),
                    )
                elif u.path == "/prettify-query":
                    out = api.prettify_query(p("query", ""))
                elif u.path == "/debug/spark-plan":
                    out = api.spark_plan(
                        p("query", ""),
                        p("start"),
                        p("end"),
                        p("step"),
                        enforced=enforced,
                        execute=p("execute", "") in ("1", "true"),
                    )
                elif u.path == "/expand-with-exprs":
                    out = api.expand_with_exprs(p("query", ""))
                elif u.path == "/downsampling-filters-debug":
                    out = api.downsampling_filters_debug(
                        p("flags", ""), p("metrics", "")
                    )
                elif u.path == "/metric-relabel-debug":
                    out = api.relabel_debug(
                        p("metric", "{}"), p("relabel_configs", "")
                    )
                elif u.path == "/target-relabel-debug":
                    out = api.relabel_debug(
                        p("metric", "{}"),
                        p("relabel_configs", ""),
                        target=True,
                    )
                elif u.path == "/metrics/index.json" and browse_api:
                    out = browse_api.metrics_index()
                elif u.path == "/api/v1/admin/tsdb/delete_series":
                    out = api.delete_series(matches)
                elif u.path == "/api/v1/admin/tsdb/snapshot":
                    out = api.snapshot_create(prometheus_compatible=True)
                elif u.path == "/snapshot/create":
                    out = api.snapshot_create()
                elif u.path == "/snapshot/list":
                    out = api.snapshot_list()
                elif u.path == "/snapshot/delete":
                    out = api.snapshot_delete(p("snapshot", ""))
                elif u.path == "/snapshot/delete_all":
                    out = api.snapshot_delete_all()
                elif u.path == "/internal/force_merge":
                    out = api.force_merge(p("partition_prefix", ""))
                elif u.path == "/internal/force_flush":
                    out = api.force_flush()
                elif u.path == "/internal/resetRollupResultCache":
                    # promql.ResetRollupResultCache analog
                    if api.cache is not None:
                        api.cache.reset()
                    out = {"status": "ok"}
                elif u.path == "/api/v1/targets":
                    # real target state from the embedded scraper when
                    # one runs; empty sets otherwise
                    # (prometheus.io/docs API shape; WriteAPIV1Targets)
                    if scraper is not None:
                        out = scraper.targets_status()
                        pool = p("scrapePool")
                        if pool:
                            out["data"]["activeTargets"] = [
                                t
                                for t in out["data"]["activeTargets"]
                                if t["scrapePool"] == pool
                            ]
                    else:
                        out = {
                            "status": "success",
                            "data": {
                                "activeTargets": [],
                                "droppedTargets": [],
                            },
                        }
                elif u.path == "/api/v1/status/config":
                    # -promscrape.config as yaml, Prometheus shape
                    out = {
                        "status": "success",
                        "data": {
                            "yaml": scraper.config_yaml()
                            if scraper is not None
                            else ""
                        },
                    }
                elif u.path == "/config":
                    # plain-text promscrape config dump (vminsert
                    # main.go:351); empty without a scraper
                    self._send(
                        200,
                        scraper.config_yaml() if scraper is not None else "",
                        "text/plain; charset=utf-8",
                    )
                    return
                elif u.path == "/-/reload":
                    # promscrape config reload (SelfSIGHUP, vminsert
                    # main.go:370); no scraper → acknowledged no-op
                    self._send(200, "")
                    return
                elif u.path in ("/influx/query", "/query"):
                    # fake influx database-names response (TSBS /
                    # Telegraf probe, lib/influxutil WriteDatabaseNames)
                    self._send(
                        200,
                        '{"results":[{"statement_id":0,"series":'
                        '[{"name":"databases","columns":["name"],'
                        '"values":[["_internal"]]}]}]}',
                    )
                    return
                elif u.path == "/metrics/expand" and browse_api:
                    out = browse_api.metrics_expand(
                        q.get("query", []),
                        p("leavesOnly", "0") in ("1", "true"),
                        p("delimiter", "."),
                    )
                elif u.path == "/federate":
                    lb = p("max_lookback")
                    lines = api.federate(
                        matches,
                        lookback_ms=_parse_step(lb) if lb else None,
                        enforced=enforced,
                        start=p("start"),
                        end=p("end"),
                    )
                    self._send(200, "\n".join(lines) + "\n", "text/plain")
                    return
                elif u.path in ("/health", "/ready", "/-/healthy", "/-/ready"):
                    self._send(200, "OK", "text/plain; charset=utf-8")
                    return
                elif u.path == "/influx/health":
                    out = {"name": "victoriametrics_spark", "status": "pass"}
                elif u.path in ("/api/v1/notifiers", "/notifiers"):
                    out = {"status": "success", "data": {"notifiers": []}}
                elif u.path == "/functions":
                    out = api.graphite_functions(
                        grouped=p("grouped", "") in ("1", "true"),
                        group=p("group"),
                    )
                elif u.path.startswith("/functions/"):
                    out = api.graphite_function_details(
                        u.path[len("/functions/"):]
                    )
                elif u.path in ("/render", "/render/"):
                    out = api.render(
                        q.get("target", []),
                        p("from"),
                        p("until"),
                        p("step"),
                        max_data_points=int(
                            float(p("maxDataPoints", "0") or 0)
                        ),
                    )
                elif u.path == "/metrics/find" and browse_api:
                    out = browse_api.metrics_find(p("query", "*"))
                elif u.path == "/tags/autoComplete/tags" and browse_api:
                    out = browse_api.tags_autocomplete_tags(
                        p("tagPrefix", ""), int(p("limit", "100"))
                    )
                elif u.path == "/tags/autoComplete/values" and browse_api:
                    out = browse_api.tags_autocomplete_values(
                        p("tag"), p("valuePrefix", ""), int(p("limit", "100"))
                    )
                elif u.path == "/tags/findSeries" and browse_api:
                    out = browse_api.tags_find_series(
                        q.get("expr", []), int(p("limit", "100"))
                    )
                elif u.path == "/tags/tagSeries" and browse_api:
                    paths = browse_api.register_paths(q.get("path", []))
                    self._send(
                        200,
                        json.dumps(paths[0]) if paths else "",
                        "text/plain; charset=utf-8",
                    )
                    return
                elif u.path == "/tags/tagMultiSeries" and browse_api:
                    out = browse_api.register_paths(q.get("path", []))
                elif u.path == "/tags/delSeries":
                    out = api.tags_del_series(q.get("path", []))
                elif u.path == "/tags" and browse_api:
                    out = [
                        {"tag": t}
                        for t in browse_api.tags_list(
                            p("filter", ""), int(p("limit", "0"))
                        )
                    ]
                elif (
                    u.path.startswith("/tags/")
                    and browse_api
                    and "/" not in u.path[len("/tags/") :]
                    and u.path != "/tags/"
                ):
                    out = browse_api.tag_values(
                        unquote(u.path[len("/tags/") :]),
                        p("filter", ""),
                        int(p("limit", "0")),
                    )
                elif u.path.startswith("/select/logsql/") and logs_api:
                    # enforcement args scope EVERY logsql endpoint
                    lapi = logs_api.scoped(
                        p("extra_filters"), p("extra_stream_filters")
                    )
                    ep = u.path[len("/select/logsql/") :]
                    if ep == "query":
                        # lapi is already scoped by the enforcement args
                        lines = lapi.query(
                            p("query"), int(p("limit", "1000"))
                        )
                        self._send_stream(
                            lines, "application/stream+json"
                        )
                        return
                    if ep == "hits":
                        out = lapi.hits(
                            p("query"), p("step", "1d"), q.get("field", [])
                        )
                    elif ep == "stats_query":
                        out = lapi.stats_query(p("query"))
                    elif ep == "stats_query_range":
                        out = lapi.stats_query_range(
                            p("query"), p("start"), p("end"), p("step", "1d")
                        )
                    elif ep == "streams":
                        out = lapi.streams(
                            p("query"), int(p("limit", "10"))
                        )
                    elif ep == "stream_field_names":
                        out = lapi.stream_field_names(p("query"))
                    elif ep == "stream_field_values":
                        out = lapi.stream_field_values(
                            p("query"), p("field"), int(p("limit", "10"))
                        )
                    elif ep == "facets":
                        out = lapi.facets(p("query"), int(p("limit", "10")))
                    elif ep == "field_names":
                        out = lapi.field_names(p("query"))
                    elif ep == "field_values":
                        out = lapi.field_values(
                            p("query"), p("field"), int(p("limit", "10"))
                        )
                    else:
                        self._send(
                            404,
                            json.dumps(
                                {"status": "error", "error": "not found"}
                            ),
                        )
                        return
                else:
                    self._send(
                        404,
                        json.dumps({"status": "error", "error": "not found"}),
                    )
                    return
            except Exception as e:  # query/parse errors → Prometheus shape
                self._send(
                    422,
                    json.dumps(
                        {"status": "error", "errorType": "bad_data", "error": str(e)}
                    ),
                )
                return
            self._send(200, json.dumps(out))

        # select endpoints Grafana and promtool also call via POST with
        # a form-encoded body (the reference reads r.FormValue, which
        # merges both); body params merge into the query string and the
        # request delegates to the GET dispatch
        _POST_SELECT_PATHS = frozenset((
            "/api/v1/query",
            "/api/v1/query_range",
            "/api/v1/series",
            "/api/v1/labels",
            "/api/v1/export",
            "/api/v1/export/csv",
            "/api/v1/export/native",
            "/federate",
            "/render",
            # admin routes read r.FormValue in the reference
            # (e.g. deleteHandler, vmstorage main.go snapshot routes),
            # so form-encoded POST bodies must reach the same handlers
            # (and their authKey checks) as GET query strings
            "/api/v1/admin/tsdb/delete_series",
            "/api/v1/admin/tsdb/snapshot",
            "/snapshot/create",
            "/snapshot/list",
            "/snapshot/delete",
            "/snapshot/delete_all",
            "/internal/force_merge",
            "/internal/force_flush",
            "/internal/resetRollupResultCache",
            # Graphite tag-mutation endpoints are POST-form in carbon
            # clients (tags_api.go reads r.FormValue too)
            "/tags/tagSeries",
            "/tags/tagMultiSeries",
            "/tags/delSeries",
        ))

        def _is_select_post(self, path: str) -> bool:
            # anchored after the optional tenant / prefix segments —
            # substring matching would misroute e.g. the Datadog
            # /datadog/api/v1/series INGEST path
            if path.startswith("/select/"):
                parts = path.split("/", 4)
                if len(parts) >= 5 and parts[3] in (
                    "prometheus", "graphite"
                ):
                    path = "/" + parts[4]
            if path.startswith("/prometheus/"):
                path = path[len("/prometheus"):]
            elif path.startswith("/graphite/"):
                path = path[len("/graphite"):]
            return (
                path in self._POST_SELECT_PATHS
                or path.startswith("/api/v1/label/")
                or path.startswith("/select/logsql/")
            )

        def do_POST(self):  # noqa: N802
            u0 = urlparse(self.path)
            if self._is_select_post(u0.path):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode() if n else ""
                merged = "&".join(x for x in (u0.query, body) if x)
                self.path = u0.path + ("?" + merged if merged else "")
                return self.do_GET()
            ingest_api = default_ingest
            htok = header_tenant(self)
            if htok is not None:
                try:
                    ingest_api = tenant_ingest_api(htok)
                except Exception as e:
                    self._send(
                        400, json.dumps({"status": "error", "error": str(e)})
                    )
                    return
            u = urlparse(self.path)
            q = parse_qs(u.query)
            # cluster-style tenant routing: /insert/<token>/<rest>
            # (the reference also nests /prometheus before /api/v1/*)
            if tenant_table and u.path.startswith("/insert/"):
                parts = u.path.split("/", 3)
                if len(parts) >= 4 and (
                    parts[2] == "multitenant" or tenant_re.match(parts[2])
                ):
                    ingest_api = tenant_ingest_api(parts[2])
                    rest = "/" + parts[3]
                    if rest.startswith("/prometheus/api/"):
                        rest = rest[len("/prometheus"):]
                    u = u._replace(path=rest)
            if u.path.startswith("/prometheus/"):
                # every ingest route is also served under /prometheus
                # (vminsert main.go route table)
                u = u._replace(path=u.path[len("/prometheus"):])
            if ingest_api is None:
                self._send(
                    404, json.dumps({"status": "error", "error": "no ingest"})
                )
                return
            n = int(self.headers.get("Content-Length", 0))
            raw = self.rfile.read(n) if n else b""
            try:
                extra_labels = []
                for kv in q.get("extra_label", []):
                    if "=" not in kv:
                        raise ValueError(f"invalid extra_label {kv!r}")
                    extra_labels.append(tuple(kv.split("=", 1)))
                # real agents compress by default (Datadog: deflate,
                # OTLP/NewRelic exporters: gzip; the reference wraps
                # every reader in common.GetUncompressedReader)
                enc = (self.headers.get("Content-Encoding") or "").lower()
                is_remote_write = u.path in ("/api/v1/write", "/api/v1/push")
                if is_remote_write:
                    pass  # write_remote handles snappy/zstd itself
                elif enc in ("gzip", "x-gzip"):
                    import gzip as _gzip

                    raw = _gzip.decompress(raw)
                elif enc == "deflate":
                    import zlib as _zlib

                    try:
                        raw = _zlib.decompress(raw)
                    except _zlib.error:
                        raw = _zlib.decompress(raw, -15)  # raw deflate
                elif enc == "snappy":
                    from victoriametrics_spark.streaming.remotewrite import (
                        snappy_uncompress,
                    )

                    raw = snappy_uncompress(raw)
                elif enc and enc != "identity":
                    raise ValueError(
                        f"unsupported Content-Encoding {enc!r}"
                    )
                pushgateway = u.path.startswith(
                    "/api/v1/import/prometheus/metrics/job/"
                )
                if is_remote_write:
                    cnt = ingest_api.write_remote(raw, encoding=enc)
                elif u.path == "/api/v1/import":
                    cnt = ingest_api.import_lines(
                        raw.decode(), "jsonl", extra_labels=extra_labels
                    )
                elif u.path == "/api/v1/import/prometheus" or pushgateway:
                    # pushgateway-style paths are accepted; the path
                    # labels are ignored and the response is 200
                    # (vminsert main.go:156-161, issue 3636)
                    ts = int(q.get("timestamp", ["0"])[0])
                    cnt = ingest_api.import_lines(
                        raw.decode(), "prometheus", ts,
                        extra_labels=extra_labels,
                    )
                elif u.path == "/api/v1/import/csv":
                    cnt = ingest_api.import_csv(
                        raw.decode(),
                        q.get("format", [""])[0],
                        extra_labels=extra_labels,
                    )
                elif u.path == "/api/v1/import/native":
                    cnt = ingest_api.import_native(
                        raw, extra_labels=extra_labels
                    )
                elif u.path in (
                    "/influx/write",
                    "/write",
                    "/influx/api/v2/write",
                    "/api/v2/write",
                ):
                    cnt = ingest_api.import_lines(
                        raw.decode(),
                        "influx",
                        extra_labels=extra_labels,
                        # ?precision=ns|u|ms|s|m|h scales timestamps;
                        # absent → magnitude auto-detect
                        # (streamparser.go:95-112,266-283)
                        precision=(q.get("precision") or [None])[0],
                    )
                elif u.path == "/newrelic/inventory/deltas":
                    # static ack (vminsert main.go:255-260)
                    self._send(
                        202,
                        '{"payload":{"version": 1, "state": {}, '
                        '"reset": "false"}}',
                    )
                    return
                elif u.path == "/opentsdb/api/put":
                    # telnet-put lines or the HTTP JSON flavor — the
                    # reference runs these on separate listeners; here
                    # one route sniffs the body shape
                    body = raw.decode()
                    if body.lstrip()[:1] in ("{", "["):
                        cnt = ingest_api.ingest_json(
                            body, "opentsdb_http", extra_labels=extra_labels
                        )
                    else:
                        cnt = ingest_api.import_lines(
                            body, "opentsdb", extra_labels=extra_labels
                        )
                elif u.path == "/datadog/api/v1/series":
                    cnt = ingest_api.ingest_json(
                        raw.decode(), "datadog_v1", extra_labels=extra_labels
                    )
                elif u.path == "/datadog/api/v2/series":
                    cnt = ingest_api.ingest_json(
                        raw.decode(), "datadog_v2", extra_labels=extra_labels
                    )
                elif u.path == "/datadog/api/beta/sketches":
                    cnt = ingest_api.ingest_sketches(raw)
                elif u.path in (
                    "/datadog/api/v1/validate",
                    "/datadog/api/v1/check_run",
                    "/datadog/api/v1/metadata",
                    "/datadog/intake",
                ):
                    # static acks, exactly like vminsert's datadog stubs
                    self._send(202, json.dumps({"status": "ok"}))
                    return
                elif u.path == "/newrelic/infra/v2/metrics/events/bulk":
                    cnt = ingest_api.ingest_json(
                        raw.decode(), "newrelic", extra_labels=extra_labels
                    )
                elif u.path in (
                    "/opentelemetry/api/v1/push",
                    "/opentelemetry/v1/metrics",
                ):
                    # OTLP/HTTP ships protobuf by default; JSON by
                    # content type (protoparserutil encoding switch).
                    # AWS Firehose wraps OTLP protobuf in a JSON
                    # envelope, flagged by its protocol header
                    # (request_handler.go:37-38 + firehose/parser.go)
                    firehose_req = self.headers.get(
                        "X-Amz-Firehose-Request-Id"
                    )
                    if self.headers.get("X-Amz-Firehose-Protocol-Version"):
                        from victoriametrics_spark.streaming.otlp import (
                            firehose_process_body,
                        )

                        cnt = ingest_api.ingest_otlp_pb(
                            firehose_process_body(raw),
                            extra_labels=extra_labels,
                        )
                    else:
                        ctype = (
                            self.headers.get("Content-Type") or ""
                        ).lower()
                        if "json" in ctype or raw[:1] in (b"{", b" "):
                            cnt = ingest_api.ingest_json(
                                raw.decode(), "otlp",
                                extra_labels=extra_labels,
                            )
                        else:
                            cnt = ingest_api.ingest_otlp_pb(
                                raw, extra_labels=extra_labels
                            )
                    if firehose_req:
                        # Firehose HTTP endpoints require this ack
                        # shape (firehose/http.go ResponseWriter)
                        import time as _t

                        self._send(
                            200,
                            json.dumps(
                                {
                                    "requestId": firehose_req,
                                    "timestamp": int(_t.time() * 1000),
                                }
                            ),
                        )
                        return
                elif u.path == "/zabbixconnector/api/v1/history":
                    cnt = ingest_api.import_lines(
                        raw.decode(), "zabbix", extra_labels=extra_labels
                    )
                elif u.path.startswith("/insert/"):
                    _log_dialects = {
                        "/insert/jsonline": "jsonline",
                        "/insert/elasticsearch/_bulk": "elasticsearch",
                        "/insert/loki/api/v1/push": "loki",
                        "/insert/syslog": "syslog",
                        "/insert/opentelemetry/v1/logs": "opentelemetry",
                    }
                    dialect = _log_dialects.get(u.path)
                    if dialect is None:
                        self._send(
                            404,
                            json.dumps(
                                {"status": "error", "error": "not found"}
                            ),
                        )
                        return

                    def _csv_arg(name):
                        return [
                            f.strip()
                            for v in q.get(name, [])
                            for f in v.split(",")
                            if f.strip()
                        ]

                    # each extra_fields ARG is one whole name=value
                    # pair — values may legally contain commas, so no
                    # csv split (repeat the arg for several fields)
                    ef = [
                        kv for kv in q.get("extra_fields", []) if "=" in kv
                    ]
                    cnt = ingest_api.insert_logs(
                        raw.decode(),
                        dialect,
                        stream_fields=_csv_arg("_stream_fields") or None,
                        msg_field=q.get("_msg_field", [None])[0],
                        time_field=q.get("_time_field", [None])[0],
                        ignore_fields=_csv_arg("ignore_fields") or None,
                        extra_fields=ef or None,
                    )
                else:
                    self._send(
                        404,
                        json.dumps({"status": "error", "error": "not found"}),
                    )
                    return
            except Exception as e:
                from victoriametrics_spark.streaming.remotewrite import (
                    UnsupportedEncodingError,
                )

                code = (
                    415 if isinstance(e, UnsupportedEncodingError) else 400
                )
                self._send(
                    code, json.dumps({"status": "error", "error": str(e)})
                )
                return
            if u.path.startswith("/datadog/"):
                self._send(202, json.dumps({"status": "ok"}))
            else:
                ok = 200 if pushgateway else 204
                self._send(ok if cnt >= 0 else 400, "")

    srv = ThreadingHTTPServer((host, port), Handler)
    # exposed for introspection/tests (the vm_concurrent_select_*
    # gauges' underlying channel in the reference)
    srv.conc_sem = conc_sem
    srv.scraper = scraper
    srv.notifier_runner = notifier_runner
    # -graphiteListenAddr / -opentsdbListenAddr / -influxListenAddr:
    # raw TCP+UDP line listeners sharing the HTTP routes' IngestAPI
    # (lib/ingestserver/*/server.go)
    ingest_servers = []
    if ingest_api is not None and (
        graphite_listen_port is not None
        or opentsdb_listen_port is not None
        or influx_listen_port is not None
    ):
        from victoriametrics_spark.streaming.ingestserver import (
            start_ingest_servers,
        )

        ingest_servers = start_ingest_servers(
            ingest_api,
            graphite_port=graphite_listen_port,
            opentsdb_port=opentsdb_listen_port,
            influx_port=influx_listen_port,
            host=host,
        )
    srv.ingest_servers = ingest_servers
    if scraper is not None or notifier_runner is not None or ingest_servers:
        # stop the background loops with the server
        _orig_shutdown = srv.shutdown

        def _shutdown():
            if scraper is not None:
                scraper.stop()
            if notifier_runner is not None:
                notifier_runner.stop()
            for s in ingest_servers:
                s.stop()
            _orig_shutdown()

        srv.shutdown = _shutdown
    return srv
