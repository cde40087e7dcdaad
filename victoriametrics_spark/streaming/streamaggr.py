"""Streaming aggregation (SURVEY.md §2.8) — the Spark rebuild of
lib/streamaggr: tumbling-interval aggregation of the sample stream with
VM's output set, last-wins deduplication, and counter state with a
staleness TTL.

Three execution modes share one config and one semantics definition:

- ``aggregate_batch(df, cfg)`` — the batch formulation (micro-batch
  backfill / oracle-checkable): tumbling windows are ``floor(ts/interval)``
  buckets, flushed at the bucket end. Counter outputs (total/increase)
  derive per-series reset-adjusted deltas with one lag window and
  accumulate across buckets with a running-sum frame — no driver state.
- ``aggregate_stream(sdf, cfg)`` — Structured Streaming: the same
  aggregates over ``window(ts, interval)`` with a watermark for late
  data (VM drops samples older than the current flush window,
  streamaggr.go flush logic; the watermark is the compat knob).
  Stateless outputs only.
- ``MicroBatchCounterAggregator(spark, cfg, state_dir)`` — the counter
  outputs (total/increase/rate_*) over a stream via foreachBatch, with
  per-series state kept as parquet tables between micro-batches.

Output series naming follows the reference exactly
(streamaggr.go:627-635):
``input_name:<interval>[_by_<labels>][_without_<labels>]_<output>``.

Dedup (``dedup_interval``) keeps the last sample per aligned interval
bucket per series, ties broken by the maximum value
(lib/storage/dedup.go:29-60 + issue #3333 rule).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.schema import canonical_labels_str, series_key

STATELESS_OUTPUTS = {
    "sum_samples",
    "count_samples",
    "count_series",
    "last",
    "min",
    "max",
    "avg",
    "stddev",
    "stdvar",
    "unique_samples",
}
STATEFUL_OUTPUTS = {
    "total",
    "total_prometheus",
    "increase",
    "increase_prometheus",
    "sum_samples_total",
    "rate_sum",
    "rate_avg",
}
SPECIAL_OUTPUTS = {"quantiles", "histogram_bucket"}


@dataclass
class StreamAggrConfig:
    interval_ms: int
    outputs: list[str]
    by: list[str] | None = None
    without: list[str] | None = None
    dedup_interval_ms: int = 0
    staleness_interval_ms: int | None = None
    # warmup: first samples of series appearing within this interval of
    # the stream start are treated as pre-existing — their value is NOT
    # counted into total/increase (streamaggr.go:179-182
    # ignore_first_sample_interval; deadline = start + interval)
    ignore_first_sample_interval_ms: int = 0
    quantiles: list[float] = field(default_factory=list)
    keep_metric_names: bool = False

    def suffix(self) -> str:
        iv = _fmt_interval(self.interval_ms)
        s = f":{iv}"
        if self.by:
            s += "_by_" + "_".join(sorted(self.by))
        if self.without:
            s += "_without_" + "_".join(sorted(self.without))
        return s + "_"


def _fmt_interval(ms: int) -> str:
    for unit, div in (("d", 86_400_000), ("h", 3_600_000), ("m", 60_000), ("s", 1000)):
        if ms % div == 0 and ms >= div:
            return f"{ms // div}{unit}"
    return f"{ms}ms"


def _group_labels(cfg: StreamAggrConfig) -> Column:
    labels = F.coalesce(F.col("labels"), F.create_map().cast("map<string,string>"))
    if cfg.by:
        keys = [str(k) for k in cfg.by]
        return F.map_filter(labels, lambda k, v: k.isin(*keys))
    if cfg.without:
        keys = [str(k) for k in cfg.without]
        return F.map_filter(labels, lambda k, v: ~k.isin(*keys))
    return labels


def _out_name(cfg: StreamAggrConfig, output: str) -> Column:
    if cfg.keep_metric_names:
        return F.col("name")
    return F.concat(F.col("name"), F.lit(cfg.suffix() + output))


def dedup_samples(df: DataFrame, dedup_interval_ms: int) -> DataFrame:
    """Last-wins dedup per aligned interval bucket per series
    (lib/storage/dedup.go:29-60): keep the sample with the highest ts in
    each ``floor(ts/interval)`` bucket; equal timestamps prefer the
    maximum value (issue #3333), stale markers lose to real samples."""
    if dedup_interval_ms <= 0:
        return df
    bucket = (F.col("ts") - F.col("ts") % F.lit(dedup_interval_ms)).alias("__bk")
    sk = series_key(F.col("name"), F.col("labels"))
    not_stale = (
        ~F.coalesce(F.col("is_stale"), F.lit(False))
        if "is_stale" in df.columns
        else F.lit(True)
    )
    w = Window.partitionBy(sk, bucket).orderBy(
        F.col("ts").desc(), not_stale.desc(), F.col("value").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _stateless_agg(output: str, streaming: bool = False) -> Column:
    v = F.col("value")
    if output == "sum_samples":
        return F.sum(v)
    if output == "count_samples":
        return F.count(v).cast("double")
    if output == "count_series":
        # exact in batch; streaming aggregation cannot do exact distinct →
        # HLL sketch (documented approximation, exact for small cardinality)
        if streaming:
            return F.approx_count_distinct(F.col("__sk"), rsd=0.005).cast("double")
        return F.count_distinct(F.col("__sk")).cast("double")
    if output == "last":
        return F.max(F.struct(F.col("ts"), v))["value"]
    if output == "min":
        return F.min(v)
    if output == "max":
        return F.max(v)
    if output == "avg":
        return F.avg(v)
    if output == "stddev":
        return F.stddev_pop(v)
    if output == "stdvar":
        return F.var_pop(v)
    if output == "unique_samples":
        return F.count_distinct(v).cast("double")
    raise ValueError(f"unknown stateless output {output!r}")


def aggregate_batch(df: DataFrame, cfg: StreamAggrConfig) -> DataFrame:
    """Tumbling-interval streamaggr over a batch of samples. Returns the
    canonical sample shape (name, labels, ts, value), one series per
    (input group, output)."""
    if cfg.dedup_interval_ms:
        df = dedup_samples(df, cfg.dedup_interval_ms)
    iv = cfg.interval_ms
    d = (
        df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        .withColumn("__glabels", _group_labels(cfg))
        .withColumn("__gkey", canonical_labels_str(F.col("__glabels")))
        .withColumn("__w", F.col("ts") - F.col("ts") % F.lit(iv))
    )
    flush_ts = (F.col("__w") + F.lit(iv)).alias("ts")
    outs: list[DataFrame] = []

    stateless = [o for o in cfg.outputs if o in STATELESS_OUTPUTS]
    if stateless:
        grouped = d.groupBy("name", "__glabels", "__w").agg(
            *[_stateless_agg(o).alias(f"__o_{o}") for o in stateless]
        )
        for o in stateless:
            outs.append(
                grouped.select(
                    _out_name(cfg, o).alias("name"),
                    F.col("__glabels").alias("labels"),
                    flush_ts,
                    F.col(f"__o_{o}").cast("double").alias("value"),
                ).filter(F.col("value").isNotNull() & ~F.isnan("value"))
            )

    if "quantiles" in cfg.outputs:
        qs = cfg.quantiles or [0.5]
        grouped = d.groupBy("name", "__glabels", "__w").agg(
            *[
                F.percentile(F.col("value"), F.lit(p)).alias(f"__q{i}")
                for i, p in enumerate(qs)
            ]
        )
        for i, p in enumerate(qs):
            outs.append(
                grouped.select(
                    _out_name(cfg, "quantiles").alias("name"),
                    F.map_concat(
                        F.map_filter(
                            F.col("__glabels"), lambda k, v: k != F.lit("quantile")
                        ),
                        F.create_map(F.lit("quantile"), F.lit(f"{p:g}")),
                    ).alias("labels"),
                    flush_ts,
                    F.col(f"__q{i}").cast("double").alias("value"),
                )
            )

    if "histogram_bucket" in cfg.outputs:
        v = F.col("value")
        pos = d.filter(v > 0)
        idx = F.ceil(F.log10(v) * 18).cast("long")
        lo = F.pow(F.lit(10.0), (idx - 1).cast("double") / 18.0)
        hi = F.pow(F.lit(10.0), idx.cast("double") / 18.0)
        vmrange = F.concat(
            F.format_string("%.3e", lo), F.lit("..."), F.format_string("%.3e", hi)
        )
        outs.append(
            pos.withColumn("__vmrange", vmrange)
            .groupBy("name", "__glabels", "__w", "__vmrange")
            .agg(F.count("*").cast("double").alias("value"))
            .select(
                _out_name(cfg, "histogram_bucket").alias("name"),
                F.map_concat(
                    F.col("__glabels"),
                    F.create_map(F.lit("vmrange"), F.col("__vmrange")),
                ).alias("labels"),
                flush_ts,
                F.col("value"),
            )
        )

    stateful = [o for o in cfg.outputs if o in STATEFUL_OUTPUTS]
    if stateful:
        wser = Window.partitionBy("__sk").orderBy("ts")
        dd = (
            d.withColumn("__pv", F.lag("value").over(wser))
            .withColumn("__pts", F.lag("ts").over(wser))
            .withColumn(
                "__pos_dv",
                F.when(F.col("__pv").isNull(), F.lit(None).cast("double"))
                .when(F.col("value") >= F.col("__pv"), F.col("value") - F.col("__pv"))
                .otherwise(F.col("value")),
            )
        )
        is_first = F.col("__pv").isNull()
        if cfg.staleness_interval_ms:
            # state TTL: a gap longer than staleness resets the series
            # (streamaggr.go:175-182) — the sample after it acts like a
            # brand-new first sample (total.go:34-36 lastValue reset)
            stale_gap = (
                F.col("ts") - F.col("__pts") > F.lit(cfg.staleness_interval_ms)
            )
            dd = dd.withColumn(
                "__pos_dv",
                F.when(stale_gap, F.lit(None).cast("double")).otherwise(
                    F.col("__pos_dv")
                ),
            )
            is_first = is_first | stale_gap
        # keep-first-sample contribution (total/increase flavor,
        # total.go:49-51): a new series' first value counts as an
        # increase, unless it appears during the warmup interval after
        # stream start — batch analog of ignoreFirstSampleDeadline
        if cfg.ignore_first_sample_interval_ms > 0:
            min_ts = d.agg(F.min("ts").alias("__t0"))
            dd = dd.crossJoin(F.broadcast(min_ts))
            eligible = (
                F.col("ts")
                >= F.col("__t0") + F.lit(cfg.ignore_first_sample_interval_ms)
            )
        else:
            eligible = F.lit(True)
        dd = dd.withColumn(
            "__contrib_keep",
            F.when(is_first, F.when(eligible, F.col("value"))).otherwise(
                F.col("__pos_dv")
            ),
        )
        per_window = dd.groupBy("name", "__gkey", "__w").agg(
            F.first("__glabels").alias("__glabels"),
            F.sum("__pos_dv").alias("__inc"),
            F.sum("__contrib_keep").alias("__inc_keep"),
            F.sum("value").alias("__ss"),
            F.sum(
                F.try_divide(F.col("__pos_dv"), (F.col("ts") - F.col("__pts")) / 1000.0)
            ).alias("__rate_sum_inner"),
            F.count_distinct(
                F.when(F.col("__pos_dv").isNotNull(), F.col("__sk"))
            ).alias("__nser"),
        )
        wrun = (
            Window.partitionBy("name", "__gkey")
            .orderBy("__w")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for o in stateful:
            if o == "total":
                val = F.sum(F.coalesce(F.col("__inc_keep"), F.lit(0.0))).over(wrun)
            elif o == "total_prometheus":
                val = F.sum(F.coalesce(F.col("__inc"), F.lit(0.0))).over(wrun)
            elif o == "increase":
                val = F.col("__inc_keep")
            elif o == "increase_prometheus":
                val = F.col("__inc")
            elif o == "sum_samples_total":
                val = F.sum(F.coalesce(F.col("__ss"), F.lit(0.0))).over(wrun)
            elif o == "rate_sum":
                # per-sample rate dv/dt summed per group — batch analog of
                # rate.go (per-series instantaneous rates)
                val = F.col("__rate_sum_inner")
            else:  # rate_avg
                val = F.try_divide(F.col("__rate_sum_inner"), F.col("__nser"))
            outs.append(
                per_window.select(
                    _out_name(cfg, o).alias("name"),
                    F.col("__glabels").alias("labels"),
                    flush_ts,
                    val.cast("double").alias("value"),
                ).filter(F.col("value").isNotNull() & ~F.isnan("value"))
            )

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def aggregate_stream(
    sdf: DataFrame,
    cfg: StreamAggrConfig,
    ts_col: str = "ts",
    allowed_lateness_ms: int = 0,
) -> DataFrame:
    """Structured Streaming formulation for the stateless outputs:
    tumbling ``window(ts, interval)`` aggregation with a watermark.
    VM drops samples older than the current flush window; a zero
    ``allowed_lateness_ms`` reproduces that compat behavior, larger
    values trade latency for late-data tolerance.

    Counter outputs (total/increase/rate_*) need per-series state with a
    staleness TTL: ``aggregate_batch`` defines their semantics and
    ``MicroBatchCounterAggregator`` runs them over a stream (foreachBatch).
    """
    stateless = [o for o in cfg.outputs if o in STATELESS_OUTPUTS]
    if not stateless:
        raise ValueError("aggregate_stream supports stateless outputs only")
    tcol = F.timestamp_millis(F.col(ts_col))
    d = (
        sdf.withColumn("__event_time", tcol)
        .withWatermark("__event_time", f"{max(allowed_lateness_ms, 0)} milliseconds")
        .withColumn("__sk", series_key(F.col("name"), F.col("labels")))
        .withColumn("__glabels", _group_labels(cfg))
    )
    win = F.window("__event_time", f"{cfg.interval_ms} milliseconds")
    grouped = d.groupBy(F.col("name"), F.col("__glabels"), win.alias("__win")).agg(
        *[_stateless_agg(o, streaming=True).alias(f"__o_{o}") for o in stateless]
    )
    outs = []
    for o in stateless:
        outs.append(
            grouped.select(
                _out_name(cfg, o).alias("name"),
                F.col("__glabels").alias("labels"),
                F.unix_millis(F.col("__win.end")).alias("ts"),
                F.col(f"__o_{o}").cast("double").alias("value"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ------------------------------------------------------------------
# Streaming counters (foreachBatch). aggregate_batch above defines the
# semantics; this engine computes the same math incrementally with its
# state as parquet tables, which is the shape VM itself has
# (pushSample into per-series state, flush on interval ticks,
# streamaggr.go:175-209). Every step is a DataFrame op: state merge is a
# per-series max-struct aggregation, window partials merge additively,
# flush order is a window function — nothing driver-side scales with
# series count, so the state tables can be bucketed by series hash at
# 100 TB exactly like the sample data.


class MicroBatchCounterAggregator:
    """Stateful streamaggr counters over foreachBatch.

    Usage::

        agg = MicroBatchCounterAggregator(spark, cfg, state_dir)
        q = samples_stream.writeStream.foreachBatch(
            lambda df, _id: agg.process(df)).start()

    ``process`` returns the rows flushed by this batch (windows whose
    end the watermark has passed); ``flush_all()`` force-flushes the
    rest (end of replay)."""

    def __init__(self, spark, cfg: StreamAggrConfig, state_dir: str):
        import os

        self.spark = spark
        self.cfg = cfg
        self.state_dir = state_dir
        self.outputs = [o for o in cfg.outputs if o in STATEFUL_OUTPUTS]
        if not self.outputs:
            raise ValueError("no stateful outputs configured")
        os.makedirs(state_dir, exist_ok=True)
        self._emitted = []

    # ---------------------------------------------------------- state io
    def _path(self, name: str) -> str:
        return f"{self.state_dir}/{name}.parquet"

    def _read(self, name: str, schema: str):
        import os

        p = self._path(name)
        if os.path.exists(p):
            self.spark.catalog.refreshByPath(p)
            # detach from the files so this batch's overwrite of the same
            # state table can't invalidate a still-lazy plan (production
            # deployments would version the state dir per batch instead)
            return self.spark.read.schema(schema).parquet(p).localCheckpoint()
        return self.spark.createDataFrame([], schema)

    def _write(self, df, name: str) -> None:
        p = self._path(name)
        df.write.mode("overwrite").parquet(p)
        self.spark.catalog.refreshByPath(p)

    _SERIES = "sk string, name string, gkey string, labels_json string, last_ts long, last_value double"
    _WIN = (
        "name string, gkey string, labels_json string, w long, inc double, "
        "n_inc long, inc_keep double, n_keep long, ss double, rate_sum double"
    )
    _WSER = "name string, gkey string, w long, sk string"
    _TOTALS = (
        "name string, gkey string, total double, total_prom double, ss_total double"
    )
    _META = "watermark long, t0 long"

    # ---------------------------------------------------------- process
    def process(self, batch_df: DataFrame):
        cfg = self.cfg
        iv = cfg.interval_ms
        if cfg.dedup_interval_ms:
            batch_df = dedup_samples(batch_df, cfg.dedup_interval_ms)
        d = (
            batch_df.withColumn("__sk", series_key(F.col("name"), F.col("labels")))
            .withColumn("__glabels", _group_labels(cfg))
            .withColumn("__gkey", canonical_labels_str(F.col("__glabels")))
            .withColumn("__labels_json", F.to_json(F.col("__glabels")))
            .withColumn("__w", F.col("ts") - F.col("ts") % F.lit(iv))
        )

        series = self._read("series", self._SERIES)
        # virtual predecessor rows from state, then the batch's own rows
        state_rows = series.select(
            F.col("sk").alias("__sk"),
            F.col("name"),
            F.col("gkey").alias("__gkey"),
            F.col("labels_json").alias("__labels_json"),
            F.col("last_ts").alias("ts"),
            F.col("last_value").alias("value"),
            F.lit(None).cast("long").alias("__w"),
            F.lit(True).alias("__from_state"),
        )
        cur_rows = d.select(
            "__sk",
            "name",
            "__gkey",
            "__labels_json",
            "ts",
            "value",
            "__w",
            F.lit(False).alias("__from_state"),
        )
        u = state_rows.unionByName(cur_rows)
        wser_w = Window.partitionBy("__sk").orderBy(
            "ts", F.col("__from_state").desc()
        )
        dd = (
            u.withColumn("__pv", F.lag("value").over(wser_w))
            .withColumn("__pts", F.lag("ts").over(wser_w))
            .filter(~F.col("__from_state"))
            .withColumn(
                "__pos_dv",
                F.when(F.col("__pv").isNull(), F.lit(None).cast("double"))
                .when(F.col("value") >= F.col("__pv"), F.col("value") - F.col("__pv"))
                .otherwise(F.col("value")),
            )
        )
        is_first = F.col("__pv").isNull()
        if cfg.staleness_interval_ms:
            stale_gap = (
                F.col("ts") - F.col("__pts") > F.lit(cfg.staleness_interval_ms)
            )
            dd = dd.withColumn(
                "__pos_dv",
                F.when(stale_gap, F.lit(None).cast("double")).otherwise(
                    F.col("__pos_dv")
                ),
            )
            is_first = is_first | stale_gap

        meta = self._read("meta", self._META).collect()
        wm_prev = meta[0]["watermark"] if meta else None
        t0_prev = meta[0]["t0"] if meta else None
        batch_minmax = d.agg(
            F.min("ts").alias("mn"), F.max("ts").alias("mx")
        ).collect()[0]
        t0 = (
            t0_prev
            if t0_prev is not None
            else (int(batch_minmax["mn"]) if batch_minmax["mn"] is not None else None)
        )
        if cfg.ignore_first_sample_interval_ms > 0 and t0 is not None:
            eligible = F.col("ts") >= F.lit(t0 + cfg.ignore_first_sample_interval_ms)
        else:
            eligible = F.lit(True)
        dd = dd.withColumn(
            "__contrib_keep",
            F.when(is_first, F.when(eligible, F.col("value"))).otherwise(
                F.col("__pos_dv")
            ),
        )

        # merge window partials (additive)
        new_partials = dd.groupBy("name", "__gkey", "__w").agg(
            F.first("__labels_json").alias("labels_json"),
            F.sum("__pos_dv").alias("inc"),
            F.count("__pos_dv").alias("n_inc"),
            F.sum("__contrib_keep").alias("inc_keep"),
            F.count("__contrib_keep").alias("n_keep"),
            F.sum("value").alias("ss"),
            F.sum(
                F.try_divide(
                    F.col("__pos_dv"), (F.col("ts") - F.col("__pts")) / 1000.0
                )
            ).alias("rate_sum"),
        ).select(
            "name",
            F.col("__gkey").alias("gkey"),
            "labels_json",
            F.col("__w").alias("w"),
            F.coalesce("inc", F.lit(0.0)).alias("inc"),
            "n_inc",
            F.coalesce("inc_keep", F.lit(0.0)).alias("inc_keep"),
            "n_keep",
            "ss",
            F.coalesce("rate_sum", F.lit(0.0)).alias("rate_sum"),
        )
        win = self._read("win", self._WIN).unionByName(new_partials)
        win = win.groupBy("name", "gkey", "w").agg(
            F.first("labels_json").alias("labels_json"),
            F.sum("inc").alias("inc"),
            F.sum("n_inc").alias("n_inc"),
            F.sum("inc_keep").alias("inc_keep"),
            F.sum("n_keep").alias("n_keep"),
            F.sum("ss").alias("ss"),
            F.sum("rate_sum").alias("rate_sum"),
        ).select(
            "name", "gkey", "labels_json", "w", "inc", "n_inc", "inc_keep",
            "n_keep", "ss", "rate_sum",
        )

        # distinct contributing series per window (exact across batches)
        new_wser = (
            dd.filter(F.col("__pos_dv").isNotNull())
            .select(
                "name",
                F.col("__gkey").alias("gkey"),
                F.col("__w").alias("w"),
                F.col("__sk").alias("sk"),
            )
            .distinct()
        )
        wser = self._read("wser", self._WSER).unionByName(new_wser).distinct()

        # update per-series last (ts, value): max struct of old + new
        merged_series = (
            series.select(
                F.col("sk"), "name", "gkey", "labels_json",
                F.struct(F.col("last_ts").alias("ts"), F.col("last_value").alias("value")).alias("__s"),
            )
            .unionByName(
                d.select(
                    F.col("__sk").alias("sk"),
                    "name",
                    F.col("__gkey").alias("gkey"),
                    F.col("__labels_json").alias("labels_json"),
                    F.struct(F.col("ts"), F.col("value")).alias("__s"),
                )
            )
            .groupBy("sk")
            .agg(
                F.first("name").alias("name"),
                F.first("gkey").alias("gkey"),
                F.first("labels_json").alias("labels_json"),
                F.max("__s").alias("__s"),
            )
            .select(
                "sk", "name", "gkey", "labels_json",
                F.col("__s.ts").alias("last_ts"),
                F.col("__s.value").alias("last_value"),
            )
        )
        self._write(merged_series, "series")

        wm = int(batch_minmax["mx"]) if batch_minmax["mx"] is not None else wm_prev
        if wm_prev is not None and wm is not None:
            wm = max(wm, wm_prev)
        self._write(
            self.spark.createDataFrame([(wm, t0)], self._META), "meta"
        )
        return self._flush(win, wser, watermark=wm)

    def flush_all(self):
        """End-of-replay: flush every pending window."""
        win = self._read("win", self._WIN)
        wser = self._read("wser", self._WSER)
        return self._flush(win, wser, watermark=None)

    def _flush(self, win, wser, watermark):
        cfg = self.cfg
        iv = cfg.interval_ms
        if watermark is None:
            ready = win
            rest = win.filter(F.lit(False))
        else:
            ready = win.filter(F.col("w") + iv <= F.lit(watermark))
            rest = win.filter(F.col("w") + iv > F.lit(watermark))
        nser = wser.groupBy("name", "gkey", "w").agg(
            F.count_distinct("sk").alias("nser")
        )
        ready = ready.join(nser, ["name", "gkey", "w"], "left").withColumn(
            "nser", F.coalesce("nser", F.lit(0))
        )

        totals = self._read("totals", self._TOTALS)
        ready = ready.join(totals, ["name", "gkey"], "left").fillna(
            {"total": 0.0, "total_prom": 0.0, "ss_total": 0.0}
        )
        wrun = (
            Window.partitionBy("name", "gkey")
            .orderBy("w")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        ready = (
            ready.withColumn(
                "__total", F.col("total") + F.sum("inc_keep").over(wrun)
            )
            .withColumn(
                "__total_prom", F.col("total_prom") + F.sum("inc").over(wrun)
            )
            .withColumn("__ss_total", F.col("ss_total") + F.sum("ss").over(wrun))
        ).cache()

        outs = []
        flush_ts = (F.col("w") + F.lit(iv)).alias("ts")
        labels = F.from_json(F.col("labels_json"), "map<string,string>").alias(
            "labels"
        )
        for o in self.outputs:
            if o == "total":
                val, cond = F.col("__total"), F.lit(True)
            elif o == "total_prometheus":
                val, cond = F.col("__total_prom"), F.lit(True)
            elif o == "increase":
                val, cond = F.col("inc_keep"), F.col("n_keep") > 0
            elif o == "increase_prometheus":
                val, cond = F.col("inc"), F.col("n_inc") > 0
            elif o == "sum_samples_total":
                val, cond = F.col("__ss_total"), F.lit(True)
            elif o == "rate_sum":
                val, cond = F.col("rate_sum"), F.col("n_inc") > 0
            else:  # rate_avg
                val, cond = (
                    F.try_divide(F.col("rate_sum"), F.col("nser")),
                    F.col("nser") > 0,
                )
            outs.append(
                ready.filter(cond).select(
                    _out_name(cfg, o).alias("name"), labels, flush_ts,
                    val.cast("double").alias("value"),
                ).filter(F.col("value").isNotNull() & ~F.isnan("value"))
            )
        emitted = outs[0]
        for o in outs[1:]:
            emitted = emitted.unionByName(o)
        # materialize executor-side BEFORE the state `_write`s below
        # overwrite the backing tables this plan reads: localCheckpoint
        # keeps the flushed rows as cached partitions on the executors
        # (constant driver memory) instead of a driver round-trip via
        # collect()+createDataFrame
        emitted = emitted.localCheckpoint(eager=True)

        # persist advanced totals + surviving windows, drop flushed wser
        new_totals = (
            ready.groupBy("name", "gkey")
            .agg(
                F.max_by(F.col("__total"), F.col("w")).alias("total"),
                F.max_by(F.col("__total_prom"), F.col("w")).alias("total_prom"),
                F.max_by(F.col("__ss_total"), F.col("w")).alias("ss_total"),
            )
        )
        kept_totals = totals.join(
            new_totals.select("name", "gkey"), ["name", "gkey"], "left_anti"
        )
        self._write(kept_totals.unionByName(new_totals), "totals")
        self._write(rest, "win")
        if watermark is None:
            self._write(wser.filter(F.lit(False)), "wser")
        else:
            self._write(
                wser.filter(F.col("w") + iv > F.lit(watermark)), "wser"
            )
        ready.unpersist()
        return emitted
