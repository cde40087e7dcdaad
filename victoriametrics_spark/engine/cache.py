"""Rollup result cache (app/vmselect/promql/rollup_result_cache.go).

VM caches evaluated rollup results keyed by (query, step, filters); a
later query over an overlapping range reuses the cached prefix and
evaluates only the missing suffix (rollup_result_cache.go:283 Get /
:606 Put — the "start = cached_end + step" handoff). The Spark rebuild
keeps the same contract with results as parquet:

- key = sha256 of (canonical expr, step, max_lookback, dedup interval,
  enforced filters) — everything that changes grid values.
- On a partial hit the suffix EvalConfig starts at cached_end + step;
  the engine's contribution pruning (grid.py:115-118) bounds the sample
  scan to ``ts > suffix_start - window``, so old partitions are never
  read — the cached parquet supplies them instead.
- Range-dependent constructs make grid points depend on the WHOLE range,
  so those queries bypass the cache (VM avoids the issue structurally by
  caching at the rollup LEAF, below transforms/aggregates —
  rollup_result_cache.go sits under aggregation). Cacheability here is
  decided from the parsed AST, not a regex: a query is bypassed when its
  tree contains (a) a ``running_*``/``range_*`` transform, (b) a
  series-level-RANKING aggregate (``topk_max``-family, ``bottomk_*``,
  ``outliersk``, ``outliers_mad``/``outliers_iqr``, ``limitk``) or an
  aggregate ``limit N`` modifier — these rank series by whole-range
  statistics, so a suffix evaluated over ``[cached_end+step, end]`` can
  select different series than a cold full-range evaluation, (c) a sort
  transform or ``limit_offset`` (result order/selection over the whole
  range), (d) a subquery / nested rollup (child evaluation range is
  derived from the query range), (e) the range/wall-clock scalars
  ``now()``/``start()``/``end()`` and any NON-LITERAL ``@`` modifier
  (both resolve against the query range), and (f) BARE selectors —
  an implicit ``default_rollup`` with an implicit window rides the
  range-end-sensitive scrape-interval estimate, the same reason the
  span family bypasses (a selector with an explicit ``[w]`` stays
  cacheable). Per-TIMESTAMP constructs (plain ``topk``/``bottomk``,
  ``share``, ``zscore``, histogram ops over explicit-window leaves)
  stay cacheable — each grid point ranks only its own timestamp.

Every grid point of a cacheable query depends only on samples in
``(gts - window, gts]``, which is what makes prefix reuse sound. The
whole-query (segment) and rollup-leaf levels share one prefix-reuse
routine, ``_reuse_prefix``; range entries carry the input frame's
``files_token`` — appended/backfilled files invalidate instead of
serving a stale range.

Every level — segment, leaf, instant — and the stream-aggregation state
(streaming/streamaggr.py) keep their entries in one on-disk format,
``VersionedStore``: per key, ``{key}.meta.json`` names the committed
version n with the caller's fields, and ``{key}.v{n}.parquet`` holds its
rows. A store writes v(n+1) beside v(n) and publishes it by atomically
replacing the meta file (tmp + rename); v(n) stays one more generation
for lazy readers still bound to it, and v(n−1) is deleted. A missing or
corrupt meta file reads as no entry. A missing meta means no version was
published (or a reset dropped them all), so the next put writes v0; after
a corrupt one it numbers past the highest version on disk, so it never
rewrites a file a lazy reader may still hold. Versions are written in
the samples table's at-rest format (storage/layout.py
``AT_REST_OPTIONS``: zstd, v2 pages, ``ts`` DELTA_BINARY_PACKED, no
statistics on labels and values). Keys come from ``cache_key``: the
caller's identity plus every EvalConfig field that changes grid values.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import threading
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.storage.layout import AT_REST_OPTIONS

# transforms whose output at one grid point depends on the whole range
_RANGE_DEPENDENT_TRANSFORMS = frozenset(
    {
        "limit_offset",
        "sort",
        "sort_desc",
        "sort_by_label",
        "sort_by_label_desc",
        "sort_by_label_numeric",
        "sort_by_label_numeric_desc",
    }
)
# scalar transforms whose value depends on the query range / wall clock
# (transform.py: now() = wall time, start()/end() = cfg bounds); time()
# stays cacheable — each grid point's value is its own timestamp
_EVAL_RANGE_FUNCS = frozenset({"now", "start", "end"})
# aggregates that rank SERIES by a whole-range statistic
_RANKING_AGGREGATES = frozenset(
    {
        "topk_max",
        "topk_min",
        "topk_avg",
        "topk_median",
        "topk_last",
        "bottomk_max",
        "bottomk_min",
        "bottomk_avg",
        "bottomk_median",
        "bottomk_last",
        "outliersk",
        "outliers_mad",
        "outliers_iqr",
        "limitk",
    }
)

_RESULT_COLS = ("name", "labels", "ts", "value")
_RESULT_SCHEMA = (
    "name string, labels map<string,string>, ts long, value double"
)


def cache_key(cfg: EvalConfig, *extras) -> str:
    """Entry key: the caller's ``extras`` (query or leaf identity, and
    whatever else selects the result) plus every EvalConfig field that
    changes grid values — ``two_level_cutover`` included, since the
    prefix-sum and grid plans it picks between can differ in the last
    ulp."""
    ident = json.dumps(
        [
            *extras,
            cfg.step,
            cfg.max_lookback,
            cfg.lookback_delta,
            cfg.dedup_interval_ms,
            list(cfg.enforced_filters),
            cfg.two_level_cutover,
        ]
    )
    return hashlib.sha256(ident.encode()).hexdigest()[:24]


class VersionedStore:
    """Versioned parquet entries under ``root`` (format and retention
    rule: see the module docstring). ``get`` returns the committed meta,
    ``read`` a committed version's rows, ``put`` writes and publishes the
    next version."""

    def __init__(
        self, spark: SparkSession, root: str, schema: str = _RESULT_SCHEMA
    ):
        self.spark = spark
        self.root = root
        self.schema = schema
        os.makedirs(root, exist_ok=True)
        # serializes the read-version → write → publish sequence against
        # concurrent HTTP handler threads on the same key space
        self._lock = threading.Lock()

    def _file(self, key: str, suffix: str) -> str:
        return os.path.join(self.root, f"{key}.{suffix}")

    def get(self, key: str) -> dict | None:
        """The committed meta of ``key``; a missing file or a truncated
        one (crash mid-write) reads as no entry, never a poisoned key."""
        try:
            with open(self._file(key, "meta.json")) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def read(self, key: str, version: int) -> DataFrame:
        path = self._file(key, f"v{version}.parquet")
        self.spark.catalog.refreshByPath(path)
        return self.spark.read.schema(self.schema).parquet(path)

    def _next_version(self, key: str) -> int:
        """The version a put of ``key`` writes. Without a meta file no
        version was ever published (or a reset dropped them all), so v0
        is free. A corrupt meta numbers past the highest
        ``{key}.v{n}.parquet`` on disk, so the put never rewrites a
        version a lazy reader may still be bound to; only that rare
        path lists the store."""
        try:
            with open(self._file(key, "meta.json")) as fh:
                return json.load(fh)["version"] + 1
        except FileNotFoundError:
            return 0
        except json.JSONDecodeError:
            pass
        pat = re.compile(re.escape(key) + r"\.v(\d+)\.parquet")
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            names = []
        found = [int(m.group(1)) for m in map(pat.fullmatch, names) if m]
        return max(found, default=-1) + 1

    def put(self, key: str, df: DataFrame, fields: dict, then=None):
        """Write ``df`` as the next version of ``key``, then publish it
        with ``fields`` in its meta. ``then(new_rows)`` runs between the
        write and the publish — a failure there leaves the committed
        version as it was — and its result is returned (default: the new
        version's rows)."""
        with self._lock:
            version = self._next_version(key)
            path = self._file(key, f"v{version}.parquet")
            (
                df.write.mode("overwrite")
                .options(**AT_REST_OPTIONS)
                .parquet(path)
            )
            new = self.read(key, version)
            out = new if then is None else then(new)
            meta_path = self._file(key, "meta.json")
            with open(f"{meta_path}.tmp", "w") as fh:
                json.dump({**fields, "version": version}, fh)
            os.replace(f"{meta_path}.tmp", meta_path)
            if version >= 2:
                stale = self._file(key, f"v{version - 2}.parquet")
                shutil.rmtree(stale, ignore_errors=True)
            return out


def _reuse_prefix(
    store: VersionedStore, key: str, cfg: EvalConfig, build, fingerprint
) -> "tuple[DataFrame, str, int | None]":
    """The one prefix-reuse path of the segment and leaf levels
    (rollup_result_cache.go:283 Get / :606 Put). Returns the frame for
    ``[cfg.start, cfg.end]``, the mode ("miss", "hit_full" or
    "hit_partial") and the suffix start of a partial hit. ``build(sub_cfg)``
    evaluates a sub-range; only the grid suffix past the cached end is
    built. ``fingerprint`` is the input-data identity
    (plancache.files_token): other files invalidate the entry; None skips
    the check."""
    ftok = repr(fingerprint) if fingerprint is not None else None
    meta = store.get(key)
    usable = (
        meta is not None
        and meta["start"] <= cfg.start
        # cached grid must land exactly on the query grid
        and (cfg.start - meta["start"]) % cfg.step == 0
        and meta["end"] + cfg.step >= cfg.start
        and (ftok is None or meta.get("ftok") in (None, ftok))
    )

    def in_range(df: DataFrame) -> DataFrame:
        return df.filter(
            (F.col("ts") >= cfg.start) & (F.col("ts") <= cfg.end)
        )

    if not usable:
        result = build(cfg).select(*_RESULT_COLS)
        fields = {"start": cfg.start, "end": cfg.end, "ftok": ftok}
        return in_range(store.put(key, result, fields)), "miss", None
    ce = min(meta["end"], cfg.end)
    cached = store.read(key, meta["version"])
    if ce >= cfg.end:
        return in_range(cached), "hit_full", None
    suffix_start = ce + cfg.step
    suffix = build(replace(cfg, start=suffix_start)).select(*_RESULT_COLS)
    merged = cached.filter(F.col("ts") <= ce).unionByName(suffix)
    fields = {"start": meta["start"], "end": cfg.end, "ftok": ftok}
    out = in_range(store.put(key, merged, fields))
    return out, "hit_partial", suffix_start


def forward_looking(name: str) -> bool:
    """True when the rollup's value at a grid point can change once LATER
    samples arrive: ``integrate`` adds a tail term gated on the last
    in-window sample having a NEXT sample (needs_fwd), and the
    ``rollup_delta``/``rollup_deriv``/``rollup_increase``/``rollup_rate``
    /``rollup_candlestick``/``rollup_scrape_interval`` family assigns
    each sample its FORWARD delta (multirollup.py:105-116, VM preFunc
    derivatives rollup.go:440-490). Caching such results would violate
    the bit-for-bit cached==cold guarantee: appending samples after the
    cached end changes points near the previously cached end."""
    from victoriametrics_spark.engine.rollup import ROLLUPS

    spec = ROLLUPS.get(name)
    if spec is not None and spec.needs_fwd:
        return True
    from victoriametrics_spark.engine.multirollup import MULTI_ROLLUPS

    return name in MULTI_ROLLUPS and name != "rollup"


def estimate_dependent(fe) -> bool:
    """True when the rollup's values depend on the per-series
    scrape-interval ESTIMATE (engine/span.py), which is computed from the
    last ≤21 samples of the fetch range and therefore shifts whenever the
    query range's END moves. Caching such results would serve values a
    cold evaluation of the extended range would not produce. VM's cache
    knowingly reuses them anyway (rollup_result_cache.go caches rate
    leaves; a suffix evaluation re-estimates over its own shorter fetch);
    this engine chooses strict cache-transparency instead — every
    cached answer must equal a cold evaluation bit-for-bit — so the
    span family and implicitly-windowed adjustable functions bypass both
    cache levels. Documented deviation (SURVEY.md §4.1)."""
    from victoriametrics_spark.engine.span import (
        ADJUST_WINDOW,
        ELIGIBILITY_ROLLUPS,
        SPAN_ROLLUPS,
    )
    from victoriametrics_spark.metricsql.ast import RollupExpr

    if fe.name in SPAN_ROLLUPS:
        return True
    if fe.name in ELIGIBILITY_ROLLUPS and fe.name != "rate_over_sum":
        # changes/resets/lifetime/lag/scrape_interval consult the
        # estimate for anchor ELIGIBILITY even with explicit windows
        return True
    if fe.name in ADJUST_WINDOW:  # widens only implicit windows
        for a in fe.args:
            if isinstance(a, RollupExpr) and a.window is not None:
                return False
        return True
    return False


class RollupResultCache:
    """Parquet-backed result cache with prefix reuse.

    ``stats`` after each ``evaluate``: ``mode`` in {"miss", "hit_full",
    "hit_partial", "bypass"}, plus ``suffix_start`` on partial hits.
    """

    def __init__(
        self,
        spark: SparkSession,
        cache_dir: str,
        accept_estimate_drift: bool = False,
    ):
        self.spark = spark
        self.cache_dir = cache_dir
        self.store = VersionedStore(spark, cache_dir)
        self.stats: dict = {}
        # Opt-in VM-faithful mode (rollup_result_cache.go:283 caches rate
        # leaves): estimate-dependent span-family leaves become
        # leaf-cacheable; a partial hit re-estimates the scrape interval
        # over the SUFFIX's own (shorter) fetch, so merged results may
        # differ from a cold full-range run near the seam — bounded by
        # one maxPrevInterval of eligibility drift per series, exactly
        # the drift VM itself accepts. Default stays strict
        # (cached == cold bit-for-bit).
        self.accept_estimate_drift = accept_estimate_drift
        self._leaf: "LeafResultCache | None" = None

    # ------------------------------------------------------------- key
    @staticmethod
    def cacheable(query: str) -> bool:
        from victoriametrics_spark.metricsql import parse
        from victoriametrics_spark.metricsql.ast import (
            AggrFuncExpr,
            BinaryOpExpr,
            DurationExpr,
            FuncExpr,
            MetricExpr,
            NumberExpr,
            RollupExpr,
        )

        try:
            root = parse(query)
        except Exception:
            return False  # let the uncached path report the parse error

        from victoriametrics_spark.metricsql.funcs import is_rollup_func

        def at_ok(at) -> bool:
            # a literal @ pins every grid point to the same constant
            # evaluation — prefix reuse stays sound; any EXPRESSION @
            # (end(), scalar(...) etc.) resolves against the query
            # range, so cached points would differ from a cold run
            return at is None or isinstance(at, (NumberExpr, DurationExpr))

        def selector_ok(a) -> bool:
            if isinstance(a, MetricExpr):
                return True
            if isinstance(a, RollupExpr):
                return (
                    a.step is None
                    and isinstance(a.expr, MetricExpr)
                    and at_ok(a.at)
                )
            return False

        def ok(e) -> bool:
            if isinstance(e, FuncExpr):
                n = e.name
                if n in _EVAL_RANGE_FUNCS:
                    # now()/start()/end() change with the query range /
                    # wall clock: a cached prefix would freeze them
                    return False
                if (
                    n in _RANGE_DEPENDENT_TRANSFORMS
                    or n.startswith("running_")
                    # range_over_time is a per-point windowed ROLLUP,
                    # not a range_* transform — it stays cacheable
                    or (n.startswith("range_") and n != "range_over_time")
                ):
                    return False
                if is_rollup_func(n):
                    if estimate_dependent(e) or forward_looking(n):
                        return False
                    # the rollup consumes its selector arg itself; any
                    # non-selector, non-literal arg is an implicit
                    # subquery → bypass
                    for a in e.args:
                        if isinstance(
                            a, (FuncExpr, AggrFuncExpr, BinaryOpExpr)
                        ):
                            return False
                        if isinstance(a, RollupExpr) and not selector_ok(a):
                            return False
                    return True
                return all(ok(a) for a in e.args)
            if isinstance(e, AggrFuncExpr):
                if e.name in _RANKING_AGGREGATES or e.limit:
                    return False
                return all(ok(a) for a in e.args)
            if isinstance(e, RollupExpr):
                # subquery / nested rollup: the child evaluation range is
                # derived from the query range → bypass
                if e.step is not None or not isinstance(e.expr, MetricExpr):
                    return False
                if not at_ok(e.at):
                    return False
                # bare `m[w]` outside a rollup func → implicit
                # default_rollup; with an explicit window that is
                # estimate-independent (matches _leaf_cacheable)
                return e.window is not None
            if isinstance(e, MetricExpr):
                # bare selector → implicit default_rollup with an
                # IMPLICIT window: per-series widening + prev-anchor
                # eligibility ride the range-end-sensitive estimate, so
                # strict mode must not prefix-reuse it (the leaf cache
                # already bypasses exactly this; accept_estimate_drift
                # mode serves these through the drift-tolerant leaf
                # path instead)
                return False
            if isinstance(e, BinaryOpExpr):
                return ok(e.left) and ok(e.right)
            return True

        return ok(root)

    def reset(self) -> None:
        """promql.ResetRollupResultCache analog — the reference's delete
        handler calls it explicitly (app/vmselect/prometheus/
        prometheus.go:527) because cached results are keyed on (query,
        cfg) with no data identity: without the reset, a previously
        cached range would keep serving deleted series indefinitely.
        Drops every cached segment, leaf, and instant entry (a store's
        next write recreates its directory)."""
        shutil.rmtree(self.cache_dir, ignore_errors=True)
        os.makedirs(self.cache_dir, exist_ok=True)
        if self._leaf is not None and self._leaf._instant is not None:
            self._leaf._instant._templates.clear()

    def leaf_cache(self) -> "LeafResultCache":
        if self._leaf is None:
            self._leaf = LeafResultCache(
                self.spark,
                os.path.join(self.cache_dir, "leaves"),
                accept_estimate_drift=self.accept_estimate_drift,
            )
        self._leaf.stats = {"hits": 0, "partial": 0, "misses": 0}
        return self._leaf

    # -------------------------------------------------------- evaluate
    def evaluate(
        self, query: str, samples: DataFrame, cfg: EvalConfig
    ) -> DataFrame:
        from victoriametrics_spark.engine.planner import Planner
        from victoriametrics_spark.engine.planner import evaluate as _eval

        if cfg.start >= cfg.end or not self.cacheable(query):
            # VM's answer to range-dependent parents: cache BELOW the
            # aggregate layer (rollup_result_cache.go:283 sits under
            # aggregation). The parent re-evaluates over the full range,
            # but every rollup LEAF reuses its cached prefix. INSTANT
            # queries also route here: the segment cache has nothing to
            # offer a single-point grid, while the leaf planner's
            # instant-delta fast path (evalInstantRollup analog) serves
            # moving-@t dashboard refreshes of big-window *_over_time.
            leaf = self.leaf_cache()
            planner = Planner(self.spark, samples, cfg, leaf_cache=leaf)
            try:
                out = planner.plan_query(query)
            finally:
                self.stats = {"mode": "bypass", "leaf": dict(leaf.stats)}
            return out

        # data-identity guard: appended/backfilled/compacted input files
        # change the token and invalidate the entry (callers passing
        # samples=None assert a no-evaluation full hit and skip it)
        from victoriametrics_spark.engine.plancache import files_token

        out, mode, suffix_start = _reuse_prefix(
            self.store,
            cache_key(cfg, query),
            cfg,
            lambda c: _eval(self.spark, query, samples, c),
            files_token(samples) if samples is not None else None,
        )
        self.stats = {"mode": mode}
        if suffix_start is not None:
            self.stats["suffix_start"] = suffix_start
        return out


class InstantValuesCache:
    """Instant-query delta fast path (evalInstantRollup,
    eval.go:1176-1536): for ``sum/count/min/max_over_time(m[big_d])``
    instant queries, cache the one-point-per-series result at its
    evaluation timestamp; a later query at ``t`` within
    ``min(window/2, 30m)`` of the cached timestamp is answered by
    adjusting the cached values with TWO small boundary windows of size
    ``offset`` instead of re-scanning the whole ``window``:

    - additive (sum/count): ``cached + rf(m[offset] @ t)
      − rf(m[offset] @ t−window)`` — exact, windows are half-open;
    - max/min: ``max(cached, rf(m[offset] @ t))``, valid only when the
      expiring region's extremum ``rf(m[offset] @ t−window)`` is
      strictly inside the cached value (else fall back to a cold
      evaluation that replaces the cached entry, eval.go
      getMaxInstantValues).

    VM applies this only to windows ≥ -search.minWindowForInstant
    RollupOptimization (3h default) — ``min_window_ms`` here.
    """

    ADDITIVE = frozenset({"sum_over_time", "count_over_time"})
    EXTREMUM = frozenset({"max_over_time", "min_over_time"})

    def __init__(self, spark: SparkSession, cache_dir: str):
        self.store = VersionedStore(spark, cache_dir)
        self.min_window_ms = 3 * 3600 * 1000
        self.stats: dict = {
            "hits": 0,
            "adjusted": 0,
            "misses": 0,
            "fallback": 0,
            "template_builds": 0,
            "template_hits": 0,
        }
        # (key, entry_ts) → entry-constant base of the boundary plan (see
        # _boundary_frames): built ONCE per cache entry, reused by every
        # refresh
        self._templates: dict = {}

    @staticmethod
    def _keyed(df: DataFrame, col: str) -> DataFrame:
        entries = F.array_sort(
            F.map_entries(F.coalesce(F.col("labels"), F.expr("map()")))
        )
        return df.select(
            F.coalesce(F.col("name"), F.lit("")).alias("name"),
            entries.alias("__e"),
            F.col("value").alias(col),
        )

    def _boundary_frames(
        self,
        key: str,
        ct: int,
        t: int,
        window_ms: int,
        build_template,
        apply_template,
    ) -> DataFrame:
        """Both boundary windows — rf(m[offset] @ t) and
        rf(m[offset] @ t−window), offset = t − ct — through ONE
        cached-base plan.

        The offset differs on every dashboard refresh, so a plan keyed
        on the concrete window text can never be reused. Split the plan
        instead: the expensive, ENTRY-CONSTANT base (selector scan +
        enforced filters + dedup-on-read + staleness drop + the literal
        envelope (ct, ct+max_offset] ∪ (ct−w, ct−w+max_offset] that
        parquet pushdown prunes on) is built once per cache entry and
        cached here; each refresh only appends the ~15-expression tail
        (explode of two literal (lo, hi, out_ts) bound structs +
        membership filter + the spec's aggregate) onto the cached base.
        Keyed on (cache key, entry timestamp): a repopulated entry gets
        a fresh base."""
        tkey = (key, ct)
        base = self._templates.get(tkey)
        if base is not None:
            self.stats["template_hits"] += 2  # both boundaries reused
        else:
            max_offset = min(window_ms // 2, 1800_000)
            base = build_template(
                [
                    (ct, ct + max_offset),
                    (ct - window_ms, ct - window_ms + max_offset),
                ]
            )
            if len(self._templates) > 64:
                self._templates.clear()
            self._templates[tkey] = base
            self.stats["template_builds"] += 1
        bounds = [(ct, t, t), (ct - window_ms, t - window_ms, t - window_ms)]
        return apply_template(base, bounds)

    def get_or_eval(
        self,
        name: str,
        ident: str,
        window_ms: int,
        cfg: EvalConfig,
        cold,
        fingerprint,
        build_template,
        apply_template,
    ) -> DataFrame | None:
        """``cold()`` must return the leaf's series frame for the
        single-point grid ``cfg``; ``fingerprint`` is the input-data
        identity (plancache.files_token) — backfilled or appended files
        change the key, so a stale entry can't serve values the
        boundary-window adjustment would never see. Returns the result
        frame, or None when the caller should use the normal path."""
        if cfg.start != cfg.end or window_ms < self.min_window_ms:
            return None
        t = cfg.start
        key = cache_key(cfg, ident, window_ms, repr(fingerprint))
        meta = self.store.get(key)
        max_offset = min(window_ms // 2, 1800_000)
        if meta is None or not 0 <= t - meta["ts"] < max_offset:
            # absent or outdated — (re)populate at this t
            self.stats["misses"] += 1
            return self.store.put(key, cold().select(*_RESULT_COLS), {"ts": t})
        cached = self.store.read(key, meta["version"])
        if t == meta["ts"]:
            self.stats["hits"] += 1
            return cached
        both = self._boundary_frames(
            key, meta["ts"], t, window_ms, build_template, apply_template
        )
        start_part = both.filter(F.col("ts") == t)
        end_part = both.filter(F.col("ts") == t - window_ms)
        c = self._keyed(cached, "c")
        s = self._keyed(start_part, "s")
        e = self._keyed(end_part, "e")
        join_cols = ["name", "__e"]
        if name in self.ADDITIVE:
            merged = c.join(s, join_cols, "full").join(e, join_cols, "full")
            value = (
                F.coalesce(F.col("c"), F.lit(0.0))
                + F.coalesce(F.col("s"), F.lit(0.0))
                - F.coalesce(F.col("e"), F.lit(0.0))
            )
        else:
            # extremum validity: the expiring region must not own the
            # cached extremum (strict inequality, eval.go:1390-1405)
            bad = c.join(e, join_cols, "inner")
            if name == "max_over_time":
                bad = bad.filter(F.col("e") >= F.col("c"))
            else:
                bad = bad.filter(F.col("e") <= F.col("c"))
            # a series seen expiring but absent from the cache means the
            # cached entry predates it — impossible unless deleted; bail.
            # Both emptiness probes run as ONE job (union of limit-1s),
            # halving fast-path validity latency vs two driver actions.
            orphans = e.join(c, join_cols, "left_anti")
            invalid = (
                bad.select(F.lit(1).alias("__bad"))
                .limit(1)
                .unionAll(orphans.select(F.lit(1).alias("__bad")).limit(1))
            )
            if invalid.limit(1).count() > 0:
                self.stats["fallback"] += 1
                # store the fresh evaluation like the miss path does —
                # the NEXT refresh becomes an O(offset) adjustment
                # instead of a second full O(window) scan
                return self.store.put(
                    key, cold().select(*_RESULT_COLS), {"ts": t}
                )
            merged = c.join(s, join_cols, "full")
            pick = F.greatest if name == "max_over_time" else F.least
            value = pick(
                F.coalesce(
                    F.col("c"), F.col("s")
                ),
                F.coalesce(F.col("s"), F.col("c")),
            )
        self.stats["adjusted"] += 1
        out = merged.select(
            F.col("name"),
            F.map_from_entries(F.col("__e")).alias("labels"),
            F.lit(t).alias("ts"),
            value.cast("double").alias("value"),
        ).filter(F.col("value").isNotNull())
        if name == "count_over_time":
            # a zero count means the true window is empty — a cold
            # evaluation emits no point there (VM's own fast path emits
            # 0 for a dying series until the cache entry expires; we
            # restore cold parity, which the count value makes decidable)
            out = out.filter(F.col("value") != 0.0)
        # KNOWN DIVERGENCE (= VM's own fast-path behavior,
        # eval.go:1176-1536): sum_over_time of a series whose samples
        # fully expired from the window adjusts to ~0 and still emits
        # until the entry expires, where a cold run emits nothing. The
        # sum value alone cannot distinguish "empty window" from a
        # genuine zero sum — restoring cold parity here would need a
        # parallel count column in the cached entry.
        # NOTE: like VM, a hit does NOT advance the cached timestamp —
        # the entry serves until offset grows past max_offset, then the
        # next query repopulates at its own t
        return out


# LeafResultCache.stats counter for each _reuse_prefix mode
_LEAF_COUNTERS = {
    "miss": "misses",
    "hit_partial": "partial",
    "hit_full": "hits",
}


class LeafResultCache:
    """Rollup-LEAF result cache — the Spark analog of VM's
    rollup_result_cache.go: results are cached *below* transforms and
    aggregates, at the rollup-over-selector leaves, where every grid
    point depends only on samples in a bounded lookbehind of its own
    timestamp. That makes prefix reuse sound even when the PARENT is
    range-dependent (topk_max, sorts, outliers): the parent re-evaluates
    over the full merged leaf, exactly like VM re-runs aggregation over
    cached rollup series (rollup_result_cache.go:283 Get / :606 Put).

    Span-family note: the rate/deriv family's per-series scrape-interval
    estimate shifts with the fetch range, so those leaves are NOT cached
    (estimate_dependent above) — unlike VM, which caches them and
    accepts the drift. Everything this cache serves equals a cold
    evaluation bit-for-bit.
    """

    def __init__(
        self,
        spark: SparkSession,
        cache_dir: str,
        accept_estimate_drift: bool = False,
    ):
        self.spark = spark
        self.cache_dir = cache_dir
        self.store = VersionedStore(spark, cache_dir)
        self.accept_estimate_drift = accept_estimate_drift
        self.stats: dict = {"hits": 0, "partial": 0, "misses": 0}
        self._instant: "InstantValuesCache | None" = None

    def instant_values(self) -> "InstantValuesCache":
        if self._instant is None:
            self._instant = InstantValuesCache(
                self.spark, os.path.join(self.cache_dir, "instant")
            )
        return self._instant

    def get_or_eval(
        self, ident: str, cfg: EvalConfig, build, fingerprint=None
    ) -> DataFrame:
        """Return the leaf's series frame for ``[cfg.start, cfg.end]``,
        evaluating (and persisting) only the uncovered grid suffix.
        ``build(sub_cfg)`` must return the leaf DataFrame for that
        sub-range. ``fingerprint`` is the input-data identity
        (plancache.files_token): appended/backfilled files invalidate
        the entry instead of serving the stale range."""
        out, mode, _ = _reuse_prefix(
            self.store, cache_key(cfg, ident), cfg, build, fingerprint
        )
        self.stats[_LEAF_COUNTERS[mode]] += 1
        return out
