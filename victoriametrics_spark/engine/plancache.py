"""Engine-level query-plan LRU — VM's parse-cache analog
(app/vmselect/promql/parse_cache.go), moved BELOW the API layer so every
engine caller (bench, PromAPI, direct ``evaluate`` users) skips the
Catalyst Column-tree construction for repeated queries.

VM caches (query string) → (AST, optimized AST); this engine's
equivalent of that cost is the *analyzed DataFrame* — for the span
family the role-explode plan costs ~0.5-1.0s of driver-side Column
construction + analysis per query, paid identically on every dashboard
refresh. The cached object is the unexecuted DataFrame (a logical
plan); every call still EXECUTES it fresh, so results are identical to
a cold build as long as the inputs are the same. The key therefore
binds everything the plan closes over:

- the canonical query AST (``repr(parse(q))`` — whitespace-insensitive),
- every ``EvalConfig`` field (frozen dataclass, hashable),
- an input fingerprint: the samples frame's canonicalized-plan
  ``semanticHash`` (distinguishes different transformations over the
  same files; conservative for in-memory frames — two separate
  ``createDataFrame`` calls never collide) PLUS a staleness token over
  the scanned files (path, size, mtime). Appending/compacting the
  backing parquet table changes the token and misses the cache —
  the staleness story SURVEY.md's round-8 plan required.

Wall-clock-dependent queries (``now()``) bypass the cache; seeded
``rand*`` functions are deterministic in (seed, grid ts) and stay
cacheable. Streaming frames bypass.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Hashable

from pyspark.sql import DataFrame

from victoriametrics_spark.engine.evalcfg import EvalConfig

# Above this many input files the staleness token summarizes (count,
# max mtime, total size) instead of per-file stats — still detects
# appends, overwrites and compactions without a 100k-stat storm.
_STAT_CAP = 512


def files_token(samples: DataFrame) -> Hashable:
    """Staleness token over the files the frame scans."""
    try:
        files = samples.inputFiles()
    except Exception:
        return ("nofiles",)
    if not files:
        return ("nofiles",)
    stats = []
    total_size = 0
    max_mtime = 0
    for uri in files:
        path = uri[7:] if uri.startswith("file://") else uri
        try:
            st = os.stat(path)
            total_size += st.st_size
            if st.st_mtime_ns > max_mtime:
                max_mtime = st.st_mtime_ns
            stats.append((uri, st.st_size, st.st_mtime_ns))
        except OSError:
            stats.append((uri, -1, -1))
    if len(files) > _STAT_CAP:
        return ("summary", len(files), total_size, max_mtime)
    return tuple(sorted(stats))


def samples_fingerprint(samples: DataFrame) -> Hashable | None:
    """Identity of the input frame, or None when uncacheable."""
    if samples.isStreaming:
        return None
    try:
        h = samples._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return None
    return (h, files_token(samples))


def _uses_now(expr) -> bool:
    from victoriametrics_spark.metricsql.ast import (
        AggrFuncExpr,
        BinaryOpExpr,
        FuncExpr,
        RollupExpr,
    )

    if isinstance(expr, FuncExpr):
        if expr.name == "now":
            return True
        return any(_uses_now(a) for a in expr.args)
    if isinstance(expr, AggrFuncExpr):
        return any(_uses_now(a) for a in expr.args)
    if isinstance(expr, BinaryOpExpr):
        return _uses_now(expr.left) or _uses_now(expr.right)
    if isinstance(expr, RollupExpr):
        for child in (expr.expr, expr.at):
            if child is not None and _uses_now(child):
                return True
    return False


class PlanCache:
    """True LRU (hits refresh recency, eviction drops the least
    recently used entry)."""

    def __init__(self, capacity: int = 128):
        self.capacity = capacity
        self._d: OrderedDict = OrderedDict()
        self.stats = {"hits": 0, "misses": 0, "bypass": 0}

    def key_for(
        self, query, samples: DataFrame, cfg: EvalConfig
    ) -> Hashable | None:
        """Cache key, or None when the query/input must bypass."""
        from victoriametrics_spark.metricsql import parse

        try:
            ast = parse(query) if isinstance(query, str) else query
        except Exception:
            return None  # let the uncached path report the parse error
        if _uses_now(ast):
            return None
        fp = samples_fingerprint(samples)
        if fp is None:
            return None
        return (repr(ast), cfg, fp)

    def get(self, key: Hashable) -> DataFrame | None:
        hit = self._d.get(key)
        if hit is not None:
            self._d.move_to_end(key)
            self.stats["hits"] += 1
        return hit

    def put(self, key: Hashable, df: DataFrame) -> None:
        self.stats["misses"] += 1
        self._d[key] = df
        self._d.move_to_end(key)
        while len(self._d) > self.capacity:
            self._d.popitem(last=False)

    def clear(self) -> None:
        self._d.clear()


# process-wide default instance used by engine.planner.evaluate
GLOBAL_PLAN_CACHE = PlanCache()
