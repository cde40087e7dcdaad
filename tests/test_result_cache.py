"""Rollup result cache tests (rollup_result_cache.go parity)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from victoriametrics_spark import EvalConfig, evaluate
from victoriametrics_spark.engine.cache import RollupResultCache
from victoriametrics_spark.schema import SAMPLE_SCHEMA


@pytest.fixture()
def counter_samples(spark):
    rows = []
    t0 = 1704067200000
    for i in range(120):  # 30 min of 15s samples, 2 series
        rows.append(("c", {"job": "a"}, t0 + i * 15000, float(3 * i), False))
        rows.append(("c", {"job": "b"}, t0 + i * 15000, float(5 * i), False))
    return spark.createDataFrame(rows, SAMPLE_SCHEMA), t0


def _vals(df):
    return {
        (r["name"], tuple(sorted((r["labels"] or {}).items())), r["ts"]): r["value"]
        for r in df.collect()
    }


def test_cache_miss_partial_full(spark, counter_samples, tmp_path):
    samples, t0 = counter_samples
    cache = RollupResultCache(spark, str(tmp_path / "rrc"))
    q = "sum(increase_prometheus(c[2m])) by (job)"
    end1 = t0 + 600_000
    end2 = t0 + 1500_000
    cfg1 = EvalConfig(start=t0, end=end1, step=60_000)
    cfg2 = EvalConfig(start=t0, end=end2, step=60_000)

    cold = cache.evaluate(q, samples, cfg1)
    assert cache.stats["mode"] == "miss"
    assert _vals(cold) == _vals(evaluate(spark, q, samples, cfg1))

    # warm, extended range: prefix reused, only the suffix evaluated.
    # PROOF the prefix isn't recomputed: drop every sample the suffix
    # window can't reach — the cached prefix must supply those points.
    suffix_start_expect = end1 + 60_000
    lookback = 300_000
    suffix_only = samples.filter(
        F.col("ts") > suffix_start_expect - 120_000 - 60_000 - lookback
    )
    warm = cache.evaluate(q, suffix_only, cfg2)
    assert cache.stats == {
        "mode": "hit_partial",
        "suffix_start": suffix_start_expect,
    }
    assert _vals(warm) == _vals(evaluate(spark, q, samples, cfg2))

    # identical query again: full hit, no evaluation at all (samples=None
    # would throw if the engine ran)
    hot = cache.evaluate(q, None, cfg2)
    assert cache.stats["mode"] == "hit_full"
    assert _vals(hot) == _vals(evaluate(spark, q, samples, cfg2))


def test_cache_bypass_range_dependent(spark, counter_samples, tmp_path):
    samples, t0 = counter_samples
    cache = RollupResultCache(spark, str(tmp_path / "rrc2"))
    cfg = EvalConfig(start=t0, end=t0 + 300_000, step=60_000)
    out = cache.evaluate("running_sum(rate(c[2m]))", samples, cfg)
    assert cache.stats["mode"] == "bypass"
    assert _vals(out) == _vals(
        evaluate(spark, "running_sum(rate(c[2m]))", samples, cfg)
    )
    # a second call is STILL a bypass (nothing was stored)
    cache.evaluate("running_sum(rate(c[2m]))", samples, cfg)
    assert cache.stats["mode"] == "bypass"


@pytest.mark.parametrize(
    "q",
    [
        # series ranked by WHOLE-RANGE statistics: a partial-hit suffix
        # evaluated over [cached_end+step, end] could select different
        # series than a cold full-range evaluation — must bypass
        "topk_max(1, rate(c[2m]))",
        "outliers_mad(1, c)",
        "limitk(1, c)",
        'sort(avg_over_time(c[2m]))',
        # subqueries: the child evaluation range derives from the query
        # range (explicit [w:s] and implicit rollup-over-expression)
        "sum(rate(c[2m:1m])) by (job)",
        "rate(abs(c))",
        # aggregate `limit N` modifier keeps first-seen series
        "sum(c) by (job) limit 1",
    ],
)
@pytest.mark.slow
def test_cache_bypass_range_dependent_aggregates(
    spark, counter_samples, tmp_path, q
):
    """Range extension over a warm cache must equal a cold evaluation;
    for these shapes that is only guaranteed by bypassing the cache
    (VM caches below the aggregate layer, rollup_result_cache.go:283)."""
    samples, t0 = counter_samples
    cache = RollupResultCache(spark, str(tmp_path / "rrc_rank"))
    cfg1 = EvalConfig(start=t0, end=t0 + 600_000, step=60_000)
    cfg2 = EvalConfig(start=t0, end=t0 + 1500_000, step=60_000)
    cache.evaluate(q, samples, cfg1)
    assert cache.stats["mode"] == "bypass"
    warm = cache.evaluate(q, samples, cfg2)
    assert cache.stats["mode"] == "bypass"
    assert _vals(warm) == _vals(evaluate(spark, q, samples, cfg2))


def test_leaf_cache_under_ranking_aggregate(spark, counter_samples, tmp_path):
    """VM-style leaf caching (rollup_result_cache.go): a range-dependent
    parent (topk_max) bypasses whole-result caching, but its rollup LEAF
    reuses the cached prefix — and the merged output equals a cold
    evaluation exactly, because the parent re-ranks over the full merged
    leaf series."""
    samples, t0 = counter_samples
    cache = RollupResultCache(spark, str(tmp_path / "rrc_leaf"))
    q = "topk_max(1, increase_prometheus(c[2m]))"
    cfg1 = EvalConfig(start=t0, end=t0 + 600_000, step=60_000)
    cfg2 = EvalConfig(start=t0, end=t0 + 1500_000, step=60_000)

    cold1 = cache.evaluate(q, samples, cfg1)
    assert cache.stats["mode"] == "bypass"
    assert cache.stats["leaf"]["misses"] == 1
    assert _vals(cold1) == _vals(evaluate(spark, q, samples, cfg1))

    warm = cache.evaluate(q, samples, cfg2)
    assert cache.stats["leaf"]["partial"] == 1, cache.stats
    assert _vals(warm) == _vals(evaluate(spark, q, samples, cfg2))

    # same range again → leaf full hit, parent still re-evaluated
    hot = cache.evaluate(q, samples, cfg2)
    assert cache.stats["leaf"]["hits"] == 1, cache.stats
    assert _vals(hot) == _vals(evaluate(spark, q, samples, cfg2))


def test_leaf_cache_prefix_not_recomputed(spark, counter_samples, tmp_path):
    """PROOF the leaf prefix is served from parquet: drop every sample
    the suffix window can't reach — the leaf's cached prefix must supply
    the early grid points of the range-extended query."""
    samples, t0 = counter_samples
    cache = RollupResultCache(spark, str(tmp_path / "rrc_leaf2"))
    q = "outliers_mad(1000, avg_over_time(c[2m]))"  # bypassed parent
    end1 = t0 + 600_000
    cfg1 = EvalConfig(start=t0, end=end1, step=60_000)
    cfg2 = EvalConfig(start=t0, end=t0 + 1500_000, step=60_000)
    cache.evaluate(q, samples, cfg1).collect()
    suffix_only = samples.filter(
        F.col("ts") > end1 + 60_000 - 120_000 - 60_000 - 300_000
    )
    warm = cache.evaluate(q, suffix_only, cfg2)
    assert cache.stats["leaf"]["partial"] == 1
    assert _vals(warm) == _vals(evaluate(spark, q, samples, cfg2))


def test_cacheable_predicate():
    ok = RollupResultCache.cacheable
    assert ok("sum(increase_prometheus(c[2m])) by (job)")
    # the span family depends on the range-end-sensitive scrape-interval
    # estimate -> strict bypass (deliberate deviation from VM, which
    # caches rate leaves and accepts the drift)
    assert not ok("sum(rate(c[2m])) by (job)")
    assert not ok("irate(c[1m])")
    assert not ok("deriv(c)")       # implicit window widens per series
    assert ok("deriv(c[5m])")       # explicit window: no estimate
    # a BARE selector is an implicit default_rollup with an implicit
    # window -> estimate-dependent eligibility -> strict bypass (the
    # per-timestamp topk ranking itself is sound: explicit window ok)
    assert not ok("topk(2, c)")
    assert ok("topk(2, last_over_time(c[5m]))")
    assert not ok("c")
    assert ok("count_over_time(c[5m])")
    # range/wall-clock scalars and non-literal @ resolve against the
    # query range -> bypass; a literal @ pins a constant -> cacheable
    assert not ok("c > end() - 3600")
    assert not ok("count_over_time(c[5m]) * now()")
    assert not ok("avg_over_time(c[1h] @ end())")
    assert ok("avg_over_time(c[1h] @ 1700000000)")
    # range_over_time is a windowed rollup, not a range_* transform
    assert ok("range_over_time(c[1h])")
    assert not ok("histogram_quantile(0.9, rate(b[5m]))")  # rate inside
    assert ok("histogram_quantile(0.9, increase_prometheus(b[5m]))")
    assert not ok("topk_max(2, rate(c[2m]))")
    assert not ok("bottomk_avg(2, c)")
    assert not ok("outliersk(3, c)")
    assert not ok("outliers_iqr(c)")
    assert not ok("limit_offset(1, 0, c)")
    assert not ok("sort_desc(c)")
    assert not ok("range_avg(c)")
    assert not ok("running_max(c)")
    assert not ok("max_over_time(rate(c[5m])[1h:1m])")
    assert not ok("rate(2000-time())")  # implicit subquery
    assert not ok("this is not metricsql")


def test_cache_misaligned_start_recomputes(spark, counter_samples, tmp_path):
    samples, t0 = counter_samples
    cache = RollupResultCache(spark, str(tmp_path / "rrc3"))
    q = "avg_over_time(c[2m])"
    cache.evaluate(q, samples, EvalConfig(start=t0, end=t0 + 600_000, step=60_000))
    # same step but off-grid start → unusable cache → miss
    cfg_off = EvalConfig(start=t0 + 30_000, end=t0 + 630_000, step=60_000)
    out = cache.evaluate(q, samples, cfg_off)
    assert cache.stats["mode"] == "miss"
    assert _vals(out) == _vals(evaluate(spark, q, samples, cfg_off))


def test_leaf_cache_estimate_drift_mode(spark, counter_samples, tmp_path):
    """accept_estimate_drift=True replicates VM's own cache behavior
    (rollup_result_cache.go:283 caches rate leaves; a partial hit
    re-estimates the scrape interval over the suffix's own fetch). On a
    regular-cadence series the estimate is identical for prefix and
    suffix, so the merged result still equals a cold evaluation exactly;
    the accepted drift is bounded by one maxPrevInterval of anchor
    eligibility per series at the merge seam (irregular cadence only).
    Strict mode (the default) keeps bypassing the span family."""
    samples, t0 = counter_samples
    q = "sum(rate(c[5m])) by (job)"
    cfg1 = EvalConfig(start=t0, end=t0 + 600_000, step=60_000)
    cfg2 = EvalConfig(start=t0, end=t0 + 1500_000, step=60_000)

    # strict default: the rate leaf is never cached
    strict = RollupResultCache(spark, str(tmp_path / "rrc_strict"))
    strict.evaluate(q, samples, cfg1)
    assert strict.stats["mode"] == "bypass"
    assert strict.stats["leaf"] == {"hits": 0, "partial": 0, "misses": 0}

    # drift mode: leaf miss → partial → full hit across range extension
    drift = RollupResultCache(
        spark, str(tmp_path / "rrc_drift"), accept_estimate_drift=True
    )
    cold = drift.evaluate(q, samples, cfg1)
    assert drift.stats["mode"] == "bypass"
    assert drift.stats["leaf"]["misses"] == 1
    assert _vals(cold) == _vals(evaluate(spark, q, samples, cfg1))

    warm = drift.evaluate(q, samples, cfg2)
    assert drift.stats["leaf"]["partial"] == 1, drift.stats
    # regular 15s cadence: suffix re-estimate == prefix estimate → the
    # drift-mode merge equals a cold full-range evaluation exactly
    assert _vals(warm) == _vals(evaluate(spark, q, samples, cfg2))

    hot = drift.evaluate(q, samples, cfg2)
    assert drift.stats["leaf"]["hits"] == 1, drift.stats
    assert _vals(hot) == _vals(evaluate(spark, q, samples, cfg2))


# ------------------------------------------- instant delta fast path
@pytest.fixture()
def wide_samples(spark):
    """Two series over 8 hours at 5m cadence; values chosen so the
    window extremum moves (sawtooth on job=a, ramp on job=b)."""
    rows = []
    t0 = 1704067200000
    for i in range(96):
        rows.append(
            ("c", {"job": "a"}, t0 + i * 300_000, float((i * 7) % 23), False)
        )
        rows.append(("c", {"job": "b"}, t0 + i * 300_000, float(i), False))
    return spark.createDataFrame(rows, SAMPLE_SCHEMA), t0


@pytest.mark.parametrize(
    "q",
    [
        "sum_over_time(c[4h])",
        "count_over_time(c[4h])",
        "max_over_time(c[4h])",
        "min_over_time(c[4h])",
    ],
)
@pytest.mark.slow
def test_instant_delta_fast_path_equals_cold(spark, wide_samples, tmp_path, q):
    """evalInstantRollup analog (eval.go:1176-1536): an instant query at
    t+delta reuses the cached instant values at t adjusted by two
    delta-sized boundary windows — and equals a cold evaluation."""
    samples, t0 = wide_samples
    cache = RollupResultCache(spark, str(tmp_path / "inst"))
    t1 = t0 + 6 * 3600_000
    cfg1 = EvalConfig(start=t1, end=t1, step=300_000)

    cold = cache.evaluate(q, samples, cfg1)
    inst = cache.leaf_cache().instant_values()
    assert inst.stats["misses"] == 1
    assert _vals(cold) == _vals(
        evaluate(spark, q, samples, cfg1, use_plan_cache=False)
    )

    # moving @t refresh 10 minutes later: adjusted, not recomputed
    t2 = t1 + 600_000
    cfg2 = EvalConfig(start=t2, end=t2, step=300_000)
    warm = cache.evaluate(q, samples, cfg2)
    got = _vals(warm)
    assert inst.stats["adjusted"] + inst.stats["fallback"] >= 1
    assert got == _vals(
        evaluate(spark, q, samples, cfg2, use_plan_cache=False)
    )

    # identical repeat: pure cache hit
    hot = cache.evaluate(q, samples, cfg2)
    assert _vals(hot) == got


def test_instant_delta_extremum_fallback(spark, tmp_path):
    """When the cached extremum lives in the EXPIRING region, the fast
    path must fall back to a cold evaluation (getMaxInstantValues
    validity rule) — the result still equals cold."""
    rows = []
    t0 = 1704067200000
    # a huge spike at the very start of the window, then small values:
    # at t+10m the spike leaves the 4h window, so max must DROP
    for i in range(96):
        v = 1000.0 if i < 2 else float(i % 5)
        rows.append(("c", {"job": "a"}, t0 + i * 300_000, v, False))
    samples = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    cache = RollupResultCache(spark, str(tmp_path / "inst_fb"))
    q = "max_over_time(c[4h])"
    t1 = t0 + 4 * 3600_000 - 300_000  # spike still inside
    cfg1 = EvalConfig(start=t1, end=t1, step=300_000)
    first = cache.evaluate(q, samples, cfg1)
    assert _vals(first)[("c", (("job", "a"),), t1)] == 1000.0

    t2 = t1 + 900_000  # spike expired
    cfg2 = EvalConfig(start=t2, end=t2, step=300_000)
    out = cache.evaluate(q, samples, cfg2)
    inst = cache.leaf_cache().instant_values()
    assert inst.stats["fallback"] >= 1
    assert _vals(out) == _vals(
        evaluate(spark, q, samples, cfg2, use_plan_cache=False)
    )
    assert _vals(out)[("c", (("job", "a"),), t2)] < 1000.0


def test_instant_delta_small_window_skipped(spark, wide_samples, tmp_path):
    """Windows below minWindowForInstantRollupOptimization (3h default)
    bypass the fast path entirely."""
    samples, t0 = wide_samples
    cache = RollupResultCache(spark, str(tmp_path / "inst_small"))
    t1 = t0 + 6 * 3600_000
    cfg = EvalConfig(start=t1, end=t1, step=300_000)
    out = cache.evaluate("sum_over_time(c[30m])", samples, cfg)
    inst = cache.leaf_cache().instant_values()
    assert all(
        inst.stats[k] == 0
        for k in ("hits", "adjusted", "misses", "fallback")
    )
    assert _vals(out) == _vals(
        evaluate(spark, "sum_over_time(c[30m])", samples, cfg,
                 use_plan_cache=False)
    )


def test_instant_cache_invalidated_by_new_files(spark, tmp_path):
    """ADVICE r9: the instant-cache key folds in the input files token
    (plancache.files_token) — a backfill with ts <= cached_t lands in
    new parquet files, which must MISS the cache and recompute, not
    serve a cached instant the boundary-window adjustment can't fix."""
    import time

    t0 = 1704067200000
    rows = [
        ("c", {"job": "a"}, t0 + i * 300_000, float(i), False)
        for i in range(96)
    ]
    data_dir = str(tmp_path / "samples")
    spark.createDataFrame(rows, SAMPLE_SCHEMA).write.mode("overwrite").parquet(
        data_dir
    )
    q = "sum_over_time(c[4h])"
    t1 = t0 + 6 * 3600_000
    cfg1 = EvalConfig(start=t1, end=t1, step=300_000)
    cache = RollupResultCache(spark, str(tmp_path / "inst_fp"))

    samples = spark.read.parquet(data_dir)
    first = cache.evaluate(q, samples, cfg1)
    inst = cache.leaf_cache().instant_values()
    assert inst.stats["misses"] == 1
    v1 = _vals(first)

    # backfill: OLD timestamps (inside the already-cached window) arrive
    # in a new file — invisible to the boundary-window adjustment
    time.sleep(0.02)
    back = [("c", {"job": "a"}, t0 + 5 * 3600_000 + 1, 1e6, False)]
    spark.createDataFrame(back, SAMPLE_SCHEMA).write.mode("append").parquet(
        data_dir
    )
    samples2 = spark.read.parquet(data_dir)

    t2 = t1 + 600_000
    cfg2 = EvalConfig(start=t2, end=t2, step=300_000)
    out = cache.evaluate(q, samples2, cfg2)
    inst2 = cache.leaf_cache().instant_values()
    # new files token → full miss, NOT an adjusted hit on the stale entry
    assert inst2.stats["misses"] == 2 and inst2.stats["adjusted"] == 0
    got = _vals(out)
    assert got == _vals(
        evaluate(spark, q, samples2, cfg2, use_plan_cache=False)
    )
    # the backfilled spike is reflected (cold would include the 1e6);
    # sum_over_time erases the metric name
    assert got[("", (("job", "a"),), t2)] > 1e5
    assert v1[("", (("job", "a"),), t1)] < 1e5


def test_instant_delta_boundary_template_reused(spark, wide_samples, tmp_path):
    """Round-9 verdict #3: the boundary sub-plans' expensive base
    (scan + envelope) is built once per instant-cache entry; the second
    moving-@t refresh reuses it for BOTH boundaries (template_hits) —
    and every adjusted result still equals a cold evaluation."""
    samples, t0 = wide_samples
    cache = RollupResultCache(spark, str(tmp_path / "tpl"))
    q = "sum_over_time(c[4h])"
    t1 = t0 + 6 * 3600_000
    cache.evaluate(q, samples, EvalConfig(start=t1, end=t1, step=300_000))
    inst = cache.leaf_cache().instant_values()
    assert inst.stats["misses"] == 1

    # refresh 1: adjusted via the boundary plan; base template built
    t2 = t1 + 300_000
    cfg2 = EvalConfig(start=t2, end=t2, step=300_000)
    out2 = cache.evaluate(q, samples, cfg2)
    assert _vals(out2) == _vals(
        evaluate(spark, q, samples, cfg2, use_plan_cache=False)
    )
    assert inst.stats["adjusted"] == 1
    assert inst.stats["template_builds"] == 1
    assert inst.stats["template_hits"] == 0

    # refresh 2, DIFFERENT offset: both boundaries ride the cached base
    t3 = t1 + 600_000
    cfg3 = EvalConfig(start=t3, end=t3, step=300_000)
    out3 = cache.evaluate(q, samples, cfg3)
    assert _vals(out3) == _vals(
        evaluate(spark, q, samples, cfg3, use_plan_cache=False)
    )
    assert inst.stats["adjusted"] == 2
    assert inst.stats["template_builds"] == 1  # not rebuilt
    assert inst.stats["template_hits"] == 2


def test_segment_cache_invalidated_by_new_files(spark, tmp_path):
    """The segment cache carries the same input-files token as the
    instant cache: a backfill into the ALREADY-CACHED range lands in
    new files and must invalidate the entry (miss + recompute), not
    prefix-reuse stale points."""
    import time

    t0 = 1704067200000
    rows = [
        ("c", {"job": "a"}, t0 + i * 60_000, float(i), False)
        for i in range(30)
    ]
    data_dir = str(tmp_path / "seg_samples")
    spark.createDataFrame(rows, SAMPLE_SCHEMA).write.mode(
        "overwrite"
    ).parquet(data_dir)
    q = "count_over_time(c[2m])"
    cfg = EvalConfig(start=t0, end=t0 + 1200_000, step=60_000)
    cache = RollupResultCache(spark, str(tmp_path / "seg_fp"))

    samples = spark.read.parquet(data_dir)
    first = cache.evaluate(q, samples, cfg)
    assert cache.stats["mode"] == "miss"
    _ = _vals(first)

    # same files → full hit
    again = cache.evaluate(q, spark.read.parquet(data_dir), cfg)
    assert cache.stats["mode"] == "hit_full"
    _ = _vals(again)

    # backfill INSIDE the cached range in a new file → token changes
    time.sleep(0.02)
    back = [("c", {"job": "a"}, t0 + 90_000, 1e6, False)]
    spark.createDataFrame(back, SAMPLE_SCHEMA).write.mode("append").parquet(
        data_dir
    )
    samples2 = spark.read.parquet(data_dir)
    out = cache.evaluate(q, samples2, cfg)
    assert cache.stats["mode"] == "miss"
    assert _vals(out) == _vals(
        evaluate(spark, q, samples2, cfg, use_plan_cache=False)
    )


@pytest.mark.parametrize(
    "level, q, grids",
    [
        # (start, end) minutes after t0: a miss, then two partial hits
        ("segment", "count_over_time(c[2m])", [(0, 10), (0, 20), (0, 25)]),
        (
            "leaf",
            "topk_max(1, count_over_time(c[2m]))",
            [(0, 10), (0, 20), (0, 25)],
        ),
        # instants 30m apart: each one outdates the entry and repopulates
        ("instant", "sum_over_time(c[4h])", [(30, 30), (60, 60), (90, 90)]),
    ],
    ids=["segment", "leaf", "instant"],
)
def test_cache_corrupt_meta_reads_as_miss(
    spark, counter_samples, tmp_path, level, q, grids
):
    """Every level keeps its entries in the one versioned format: after
    three stores to one key, v(N−1) is still on disk for lazy readers
    and v(N−2) is gone. A truncated/corrupt meta file (crash mid-write)
    must read as a miss, not poison the key with a JSONDecodeError on
    every later query; the store after it numbers past the versions on
    disk instead of rewriting one a lazy reader may still hold."""
    import json

    samples, t0 = counter_samples
    root = tmp_path / "rrc_corrupt"
    cache = RollupResultCache(spark, str(root))
    cfgs = [
        EvalConfig(start=t0 + a * 60_000, end=t0 + b * 60_000, step=60_000)
        for a, b in grids
    ]
    for cfg in cfgs:
        cache.evaluate(q, samples, cfg)
    (meta,) = root.rglob("*.meta.json")
    key = meta.name.removesuffix(".meta.json")
    assert json.loads(meta.read_text())["version"] == 2
    assert meta.with_name(f"{key}.v2.parquet").exists()
    assert meta.with_name(f"{key}.v1.parquet").exists()
    assert not meta.with_name(f"{key}.v0.parquet").exists()

    def mtimes(version):
        d = meta.with_name(f"{key}.v{version}.parquet")
        return {f.name: f.stat().st_mtime_ns for f in d.iterdir()}

    v2_files = mtimes(2)
    meta.write_text('{"start": 123, "ver')  # truncated JSON
    out = cache.evaluate(q, samples, cfgs[-1])
    missed = {
        "segment": lambda: cache.stats["mode"] == "miss",
        "leaf": lambda: cache.stats["leaf"]["misses"] == 1,
        "instant": lambda: (
            cache.leaf_cache().instant_values().stats["misses"] == 4
        ),
    }
    assert missed[level](), cache.stats
    assert _vals(out) == _vals(
        evaluate(spark, q, samples, cfgs[-1], use_plan_cache=False)
    )
    assert json.loads(meta.read_text())["version"] == 3
    assert mtimes(2) == v2_files
    assert not meta.with_name(f"{key}.v1.parquet").exists()


def test_cache_reset_then_new_entries(spark, counter_samples, tmp_path):
    """``reset`` drops the whole cache directory while the leaf and
    instant stores keep their roots: the next miss at each level writes
    v0 (recreating the directory) instead of failing, and its result
    equals a cold evaluation."""
    samples, t0 = counter_samples
    cache = RollupResultCache(spark, str(tmp_path / "rrc_reset"))
    t1 = t0 + 30 * 60_000
    instant = EvalConfig(start=t1, end=t1, step=60_000)
    rng = EvalConfig(start=t0, end=t0 + 600_000, step=60_000)
    cache.evaluate("sum_over_time(c[4h])", samples, instant)
    cache.evaluate("topk_max(1, count_over_time(c[2m]))", samples, rng)
    cache.reset()
    for q, cfg in [
        ("count_over_time(c[4h])", instant),
        ("topk_max(1, increase_prometheus(c[2m]))", rng),
        ("sum(increase_prometheus(c[2m])) by (job)", rng),
    ]:
        out = cache.evaluate(q, samples, cfg)
        assert _vals(out) == _vals(
            evaluate(spark, q, samples, cfg, use_plan_cache=False)
        )
    assert cache.leaf_cache().instant_values().stats["misses"] == 2
    assert cache.stats["mode"] == "miss"
    assert len(list((tmp_path / "rrc_reset").rglob("*.v0.parquet"))) == 3


def test_instant_cache_key_includes_two_level_cutover(
    spark, wide_samples, tmp_path
):
    """Two instant evaluations that differ only in two_level_cutover
    both miss: the cutover picks the prefix-sum or the grid plan, which
    can differ in the last ulp, so a shared entry could break
    cached == cold."""
    samples, t0 = wide_samples
    cache = RollupResultCache(spark, str(tmp_path / "inst_cutover"))
    q = "sum_over_time(c[4h])"
    t1 = t0 + 6 * 3600_000
    for cutover in (16, 4):
        cfg = EvalConfig(
            start=t1, end=t1, step=300_000, two_level_cutover=cutover
        )
        out = cache.evaluate(q, samples, cfg)
        assert _vals(out) == _vals(
            evaluate(spark, q, samples, cfg, use_plan_cache=False)
        )
    assert cache.leaf_cache().instant_values().stats["misses"] == 2
