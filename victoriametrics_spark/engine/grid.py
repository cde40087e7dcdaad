"""Grid rollup machinery — the one pattern that carries all 80 rollup
functions (SURVEY.md §2.0).

The reference evaluates every rollup on a shared timestamp grid: for each
grid point ``g`` in ``[start..end] step step``, aggregate the samples in
the lookbehind window ``(g - W, g]`` (rollupConfig.doInternal,
app/vmselect/promql/rollup.go:701-820).

Spark-first formulation — **contribution explode, no join**: each sample
at ``ts`` contributes to exactly the grid indices
``i ∈ [ceil((ts-start)/step), floor((ts+W-1-start)/step)]``. We generate
that index range per sample with ``sequence()`` + ``explode`` (purely
computed, no shuffle), then hash-aggregate by (series, i). Catalyst gives
partial/final aggregation, so this scales the same way the reference's
incremental per-worker aggregation does (aggr_incremental.go:18-168) but
with W/step output amplification instead of a nested-loop range join.
Exactness is guaranteed by a final window-membership filter; the explode
bounds only need to be a superset.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.engine.evalcfg import EvalConfig
from victoriametrics_spark.engine.span import pos_dv_expr
from victoriametrics_spark.schema import series_key

# Columns prepared for rollup aggregation (pre-groupBy):
#   value, ts, gts (grid point ms), plus when requested:
#   prev_value, prev_ts  — previous sample of the same series (series order,
#                          may lie before the window start: VM's prevValue,
#                          rollup.go:780-805)
#   dv, dt               — value/ts delta vs previous sample
#   pos_dv               — counter-reset-adjusted delta: v - prev if v>=prev
#                          else v (reset ⇒ counter restarted from ~0;
#                          mirrors removeCounterResets, rollup.go:223)


@dataclass
class PreparedSamples:
    df: DataFrame  # exploded: one row per (sample, contributed grid index)
    cfg: EvalConfig


def prepare_rollup_input(
    samples: DataFrame,
    cfg: EvalConfig,
    window_ms: int,
    offset_ms: int = 0,
    needs_prev: bool = False,
    needs_fwd: bool = False,
    keep_stale: bool = False,
    window_col: str | None = None,
) -> DataFrame:
    """Explode samples to (series, grid-index) contribution rows.

    Returns a DataFrame with columns:
      __series_key, name, labels, i (grid index), gts, value, ts
      [+ prev_value, prev_ts, dv, dt, pos_dv when needs_prev]
      [+ next_value, next_ts, next_pos_dv when needs_fwd — VM's preFunc
         family (deltaValues/derivValues, rollup.go:440-490) assigns each
         sample the delta/deriv to its NEXT sample]

    ``window_col`` names a per-series window column (ms) already present
    on ``samples`` (implicit-window widening, rollup.go:747-756); when
    given it replaces ``window_ms`` in the contribution bounds and the
    exact membership filter (``window_ms`` must then be an upper bound
    only for nothing — bounds derive from the column).
    """
    if window_ms <= 0:
        raise ValueError("window must be positive")
    start, end, step = cfg.start, cfg.end, cfg.step
    npts = cfg.num_points

    df = samples
    if "is_stale" in df.columns and not keep_stale:
        # staleness markers terminate a series; they never surface as values
        # (apptest/tests/metricsql_test.go:32 behavior)
        df = df.filter(~F.coalesce(F.col("is_stale"), F.lit(False)))
    elif "is_stale" not in df.columns and keep_stale:
        df = df.withColumn("is_stale", F.lit(False))
    if "__series_key" not in df.columns:
        df = df.withColumn(
            "__series_key", series_key(F.col("name"), F.col("labels"))
        )
    # else: reuse the stored physical column — when the input is a bucketed
    # samples table (storage/layout.py) the scan already reports
    # HashPartitioning on it, so the lag window and the grid aggregation
    # below run shuffle-free (the whole point of the layout)

    # shift for `offset`: sample effectively evaluated offset later
    shifted = (F.col("ts") + F.lit(offset_ms)).alias("__sts")
    df = df.withColumn("__sts", shifted)

    if needs_prev or needs_fwd:
        w = Window.partitionBy("__series_key").orderBy("ts")
        df = (
            df.withColumn("prev_value", F.lag("value").over(w))
            .withColumn("prev_ts", F.lag("ts").over(w))
            .withColumn("dv", F.col("value") - F.col("prev_value"))
            .withColumn("dt", F.col("ts") - F.col("prev_ts"))
            .withColumn(
                "pos_dv", pos_dv_expr(F.col("value"), F.col("prev_value"))
            )
        )
        if needs_fwd:
            # lead over the same window spec — Catalyst computes lag+lead
            # in one sort pass, no extra shuffle
            df = (
                df.withColumn("next_value", F.lead("value").over(w))
                .withColumn("next_ts", F.lead("ts").over(w))
                .withColumn("next_pos_dv", F.lead("pos_dv").over(w))
            )

    W = F.col(window_col) if window_col else F.lit(window_ms)

    # prune samples that cannot contribute to any grid point (parquet-pushable)
    df = df.filter(
        (F.col("__sts") <= F.lit(end)) & (F.col("__sts") + W > F.lit(start))
    )

    # contribution range; trunc-div bounds are a superset for negative
    # dividends, the exact membership filter below makes it precise
    i_lo_raw = (F.col("__sts") - F.lit(start) + F.lit(step - 1)) / F.lit(step)
    i_hi_raw = (F.col("__sts") + W - F.lit(1) - F.lit(start)) / F.lit(step)
    i_lo = F.greatest(F.lit(0), i_lo_raw.cast("long"))
    i_hi = F.least(F.lit(npts - 1), i_hi_raw.cast("long"))
    df = df.withColumn(
        "i",
        F.explode(
            F.when(i_lo <= i_hi, F.sequence(i_lo, i_hi)).otherwise(
                F.array().cast("array<long>")
            )
        ),
    )
    gts = (F.lit(start) + F.col("i") * F.lit(step)).alias("gts")
    df = df.withColumn("gts", gts)
    # exact lookbehind-window membership: __sts in (gts - W, gts]
    df = df.filter(
        (F.col("__sts") > F.col("gts") - W) & (F.col("__sts") <= F.col("gts"))
    )
    return df


def prepare_step_buckets(
    samples: DataFrame,
    cfg: EvalConfig,
    window_ms: int,
    offset_ms: int = 0,
    needs_prev: bool = False,
    needs_fwd: bool = False,
) -> DataFrame:
    """Step-bucket form of :func:`prepare_rollup_input` — NO explode.

    Valid only when ``window_ms`` is an exact multiple ``k`` of the step:
    the lookbehind window of grid index ``i`` is then precisely the union
    of the ``k`` step buckets ``(start+(b-1)*step, start+b*step]`` for
    ``b ∈ [i-k+1, i]``, so a sample belongs to exactly ONE bucket
    (``b = ceil((ts-start)/step)``) and bucket-level partial aggregates
    can be merged per grid point. This turns the explode's
    ``window/step × samples`` shuffle into ``window/step × bucket
    partials`` — the partial count is bounded by series × grid size
    regardless of sample density, which is what survives ``rate(m[1d])``
    at step=15s (amplification 5760× per sample otherwise).

    Output columns: __series_key, name, labels, b (bucket index, may be
    < 0 for pre-start samples), value, ts [+ prev/dv/dt/pos_dv].
    """
    if window_ms <= 0 or window_ms % cfg.step != 0:
        raise ValueError("two-level form requires window = k * step")
    start, end, step = cfg.start, cfg.end, cfg.step

    df = samples
    if "is_stale" in df.columns:
        df = df.filter(~F.coalesce(F.col("is_stale"), F.lit(False)))
    if "__series_key" not in df.columns:
        df = df.withColumn(
            "__series_key", series_key(F.col("name"), F.col("labels"))
        )
    df = df.withColumn("__sts", F.col("ts") + F.lit(offset_ms))

    if needs_prev or needs_fwd:
        w = Window.partitionBy("__series_key").orderBy("ts")
        df = (
            df.withColumn("prev_value", F.lag("value").over(w))
            .withColumn("prev_ts", F.lag("ts").over(w))
            .withColumn("dv", F.col("value") - F.col("prev_value"))
            .withColumn("dt", F.col("ts") - F.col("prev_ts"))
            .withColumn(
                "pos_dv", pos_dv_expr(F.col("value"), F.col("prev_value"))
            )
        )
        if needs_fwd:
            df = (
                df.withColumn("next_value", F.lead("value").over(w))
                .withColumn("next_ts", F.lead("ts").over(w))
                .withColumn("next_pos_dv", F.lead("pos_dv").over(w))
            )

    df = df.filter(
        (F.col("__sts") <= F.lit(end))
        & (F.col("__sts") + F.lit(window_ms) > F.lit(start))
    )
    # bucket index: ceil((__sts - start) / step), sign-correct via the
    # identity ceil(n/s) = -floorDiv(-n, s) (all integral — float division
    # would lose exactness at unix-ms magnitudes)
    num = F.col("__sts") - F.lit(start)
    b = -F.floor(-num / F.lit(step)).cast("long")
    return df.withColumn("b", b)


def explode_bucket_partials(
    partials: DataFrame, cfg: EvalConfig, k: int
) -> DataFrame:
    """Fan each bucket partial out to the ``k`` grid indices whose window
    contains the bucket, clamped to the grid."""
    npts = cfg.num_points
    i_lo = F.greatest(F.lit(0), F.col("b"))
    i_hi = F.least(F.lit(npts - 1), F.col("b") + F.lit(k - 1))
    return partials.withColumn(
        "i",
        F.explode(
            F.when(i_lo <= i_hi, F.sequence(i_lo, i_hi)).otherwise(
                F.array().cast("array<long>")
            )
        ),
    )


def grid_df(spark, cfg: EvalConfig) -> DataFrame:
    """The bare evaluation grid as a DataFrame(ts BIGINT ms)."""
    return spark.range(cfg.num_points).select(
        (F.lit(cfg.start) + F.col("id") * F.lit(cfg.step)).alias("ts")
    )
