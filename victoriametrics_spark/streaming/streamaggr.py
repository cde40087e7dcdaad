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
  outputs (total/increase/rate_*) over a stream via foreachBatch: each
  micro-batch is one Spark pass that reads one immutable parquet state
  version and commits the next one atomically (a JSON commit file).

Output series naming follows the reference exactly
(streamaggr.go:627-635):
``input_name:<interval>[_by_<labels>][_without_<labels>]_<output>``.

Dedup (``dedup_interval``) keeps the last sample per aligned interval
bucket per series, ties broken by the maximum value
(lib/storage/dedup.go:29-60 + issue #3333 rule).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.engine.cache import (
    _drop_stale_generation,
    _read_meta,
    _write_meta_atomic,
)
from victoriametrics_spark.schema import SAMPLE_SCHEMA, canonical_labels_str, series_key

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
    sk = series_key(F.col("name"), F.col("labels"))
    rank = _dedup_rank(df, dedup_interval_ms, [sk])
    return df.withColumn("__rn", rank).filter(F.col("__rn") == 1).drop("__rn")


def _dedup_rank(df: DataFrame, dedup_interval_ms: int, keys: list) -> Column:
    """Rank of each sample within its (``keys``, dedup bucket); rank 1
    is the sample ``dedup_samples`` keeps."""
    bucket = F.col("ts") - F.col("ts") % F.lit(dedup_interval_ms)
    not_stale = (
        ~F.coalesce(F.col("is_stale"), F.lit(False))
        if "is_stale" in df.columns
        else F.lit(True)
    )
    w = Window.partitionBy(*keys, bucket).orderBy(
        F.col("ts").desc(), not_stale.desc(), F.col("value").desc()
    )
    return F.row_number().over(w)


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
# semantics; this engine computes the same math incrementally, the shape
# VM itself has (pushSample into per-series state, flush on interval
# ticks, streamaggr.go:175-209). State is versioned the way Structured
# Streaming's state store is (SIGMOD 2018): each micro-batch reads one
# immutable committed version and commits the next one atomically.
#
# One process() is one pass. The batch rows and the per-series state
# rows are unioned and exchanged once, on the series key; the dedup
# window, the lag window and the series-state merge are all keyed by the
# series key, so that one partitioning serves them. Only per-(group,
# window) partials cross a second exchange, where they merge with the
# stored window partials and the running totals (a null-``w`` row per
# group); a hot group's samples stay spread. Per-series data never
# leaves the executors.

_TOTAL_OUTPUTS = {"total", "total_prometheus", "sum_samples_total"}


class MicroBatchCounterAggregator:
    """Stateful streamaggr counters over foreachBatch.

    Usage::

        agg = MicroBatchCounterAggregator(spark, cfg, state_dir)
        q = samples_stream.writeStream.foreachBatch(
            lambda df, _id: agg.process(df)).start()

    ``process`` returns the rows flushed by this batch (windows whose
    end the watermark, the largest timestamp seen, has passed);
    ``flush_all()`` force-flushes the rest (end of replay). Both run
    every Spark job and commit the new state before they return: the
    returned DataFrame is already materialized on the executors and
    stays valid however many batches follow. A batch that fails before
    its commit leaves the committed state untouched, so replaying it
    (also from a new aggregator on the same ``state_dir``) gives the
    same result as an uninterrupted run.

    State layout under ``state_dir``: one parquet table per version,
    ``v{n}``, whose ``kind`` column holds per-series last samples
    (``s``), open window partials (``w``), running totals per group
    (``t``, only for ``total``, ``total_prometheus`` and
    ``sum_samples_total``), contributing series per open window (``x``,
    only for ``rate_avg``) and the batch's flushed rows (``o``); plus
    ``commit.json``, replaced atomically, naming the committed version
    with the watermark and the stream start ``t0``. The version before
    the committed one is kept, older ones are deleted. State directories
    written before this layout (one parquet table per state kind) are
    not read."""

    _STATE = (
        "kind string, name string, gkey string, labels_json string, "
        "sk string, w long, ts long, value double, inc double, n_inc long, "
        "inc_keep double, n_keep long, ss double, rate_sum double"
    )

    def __init__(self, spark, cfg: StreamAggrConfig, state_dir: str):
        self.spark = spark
        self.cfg = cfg
        self.state_dir = state_dir
        self.outputs = [o for o in cfg.outputs if o in STATEFUL_OUTPUTS]
        if not self.outputs:
            raise ValueError("no stateful outputs configured")
        self._totals = any(o in _TOTAL_OUTPUTS for o in self.outputs)
        self._wser = "rate_avg" in self.outputs
        self._types = dict(f.split() for f in self._STATE.split(", "))
        os.makedirs(state_dir, exist_ok=True)

    def process(self, batch_df: DataFrame) -> DataFrame:
        return self._step(batch_df)

    def flush_all(self) -> DataFrame:
        """End-of-replay: flush every pending window."""
        return self._step(None)

    # ---------------------------------------------------------- state io
    def _version_path(self, version: int) -> str:
        return os.path.join(self.state_dir, f"v{version}")

    # The expressions below are SQL text: the plan is built again for
    # every micro-batch, and one py4j call per expression is cheaper than
    # one per Column operator.
    def _row(self, kind: str, **cols: str) -> str:
        """A state row of ``kind`` as a SQL struct: ``cols`` maps state
        columns to expressions; the rest is null."""
        cols["kind"] = f"'{kind}'"
        return "named_struct({})".format(
            ", ".join(
                f"'{c}', CAST({cols.get(c, 'NULL')} AS {t})"
                for c, t in self._types.items()
            )
        )

    @staticmethod
    def _rows(df: DataFrame, *rows: str) -> DataFrame:
        """Each input row of ``df`` as the non-null rows of ``rows``."""
        return df.selectExpr(
            f"inline(filter(array({', '.join(rows)}), r -> r IS NOT NULL))"
        )

    # ---------------------------------------------------------- one step
    def _step(self, batch_df: DataFrame | None) -> DataFrame:
        """Read the committed version, run this batch (``None``: flush
        every window) as one Spark pass that writes the next version,
        materialize the flushed rows, then commit."""
        cfg, iv, spark = self.cfg, self.cfg.interval_ms, self.spark
        commit_path = os.path.join(self.state_dir, "commit.json")
        commit = _read_meta(commit_path) or {}
        version = commit.get("version", 0)
        wm, t0 = commit.get("watermark"), commit.get("t0")
        if version:
            state = spark.read.schema(self._STATE).parquet(self._version_path(version))
        else:
            state = spark.createDataFrame([], self._STATE)
        flush = batch_df is None
        if flush:
            batch_df = spark.createDataFrame([], SAMPLE_SCHEMA)

        # the one exchange of the samples: batch rows plus the carried
        # per-series rows (last sample; open windows' contributing
        # series), hashed on the series key
        glabels = _group_labels(cfg)
        stale = F.col("is_stale") if "is_stale" in batch_df.columns else F.lit(None)
        sample_cols = ["kind", "name", "gkey", "labels_json", "sk", "w", "ts", "value"]
        batch = batch_df.select(
            F.lit("b").alias("kind"),
            "name",
            canonical_labels_str(glabels).alias("gkey"),
            F.to_json(glabels).alias("labels_json"),
            series_key(F.col("name"), F.col("labels")).alias("sk"),
            (F.col("ts") - F.col("ts") % F.lit(iv)).alias("w"),
            "ts",
            F.col("value").cast("double").alias("value"),
            stale.cast("boolean").alias("is_stale"),
        )
        carried = state.filter("kind IN ('s', 'x')").selectExpr(
            *sample_cols, "CAST(NULL AS BOOLEAN) AS is_stale"
        )
        u = batch.unionByName(carried).repartition("sk")
        if cfg.dedup_interval_ms:
            # dedup within this batch only, as aggregate_batch would on it
            rank = _dedup_rank(u, cfg.dedup_interval_ms, ["sk", "kind"])
            u = u.withColumn("__rn", rank).filter("kind != 'b' OR __rn = 1")
        # a series' state row sorts before batch samples at its timestamp
        sw = "OVER (PARTITION BY sk, kind = 'x' ORDER BY ts, kind = 's' DESC, value)"
        lagged = u.selectExpr(
            *sample_cols,
            f"lag(value) {sw} AS __pv",
            f"lag(ts) {sw} AS __pts",
            f"lead(1) {sw} IS NULL AS __last",
        ).cache()
        try:
            if not flush:
                # one task over the cached partitions: no shuffle stage
                mm = (
                    lagged.filter("kind = 'b'")
                    .coalesce(1)
                    .agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"))
                    .first()
                )
                if t0 is None and mm["mn"] is not None:
                    t0 = int(mm["mn"])
                if mm["mx"] is not None:
                    wm = int(mm["mx"]) if wm is None else max(wm, int(mm["mx"]))
            nxt = self._next_version(state, lagged, flush, wm, t0)
            path = self._version_path(version + 1)
            nxt.write.mode("overwrite").parquet(path)
        finally:
            lagged.unpersist()
        out = (
            spark.read.schema(self._STATE)
            .parquet(path)
            .filter("kind = 'o'")
            .selectExpr(
                "name",
                "from_json(labels_json, 'map<string,string>') AS labels",
                "ts",
                "value",
            )
            .localCheckpoint()
        )
        _write_meta_atomic(
            commit_path, {"version": version + 1, "watermark": wm, "t0": t0}
        )
        _drop_stale_generation(lambda _, n: self._version_path(n), None, version + 1)
        return out

    def _next_version(self, state, lagged, flush: bool, wm, t0) -> DataFrame:
        """The rows of the next state version (and the flushed rows),
        from the committed ``state`` and the exchanged samples."""
        cfg, iv = self.cfg, self.cfg.interval_ms

        def ready(w: str) -> str:
            if flush:
                return f"{w} IS NOT NULL"
            if wm is None:
                return "false"
            return f"({w} IS NOT NULL AND {w} + {iv} <= {wm})"

        pos_dv = (
            "CASE WHEN __pv IS NULL THEN NULL"
            " WHEN value >= __pv THEN value - __pv ELSE value END"
        )
        is_first = "__pv IS NULL"
        if cfg.staleness_interval_ms:
            # state TTL, as in aggregate_batch
            gap = f"ts - __pts > {cfg.staleness_interval_ms}"
            pos_dv = f"CASE WHEN {gap} THEN NULL ELSE {pos_dv} END"
            is_first = f"({is_first} OR {gap})"
        eligible = "true"
        if cfg.ignore_first_sample_interval_ms > 0 and t0 is not None:
            eligible = f"ts >= {t0 + cfg.ignore_first_sample_interval_ms}"
        keep = (
            f"CASE WHEN {is_first} THEN IF({eligible}, value, NULL)"
            f" ELSE {pos_dv} END"
        )

        # per-(group, window) partials: this batch's samples, the stored
        # open windows and the running totals (w null), merged in one
        # aggregation
        sums = ["inc", "n_inc", "inc_keep", "n_keep", "ss", "rate_sum"]
        key = ["name", "gkey", "labels_json", "w"]
        parts = lagged.filter("kind = 'b'").selectExpr(
            *key,
            f"{pos_dv} AS inc",
            f"CAST({pos_dv} IS NOT NULL AS LONG) AS n_inc",
            f"{keep} AS inc_keep",
            f"CAST({keep} IS NOT NULL AS LONG) AS n_keep",
            "value AS ss",
            f"try_divide({pos_dv}, (ts - __pts) / 1000D) AS rate_sum",
            "0 AS nser",
        ).unionByName(
            state.filter("kind IN ('w', 't')").selectExpr(*key, *sums, "0 AS nser")
        )
        wser = None
        if self._wser:
            # distinct contributing series per window (exact across
            # batches); keyed by series, so no exchange
            wser = (
                lagged.filter(f"kind = 'x' OR (kind = 'b' AND {pos_dv} IS NOT NULL)")
                .select("sk", "name", "gkey", "w")
                .distinct()
            )
            parts = parts.unionByName(
                wser.selectExpr(
                    "name",
                    "gkey",
                    "CAST(NULL AS STRING) AS labels_json",
                    "w",
                    *[f"CAST(NULL AS {self._types[c]}) AS {c}" for c in sums],
                    "1 AS nser",
                )
            )
        agg = parts.groupBy("name", "gkey", "w").agg(
            F.expr("first(labels_json, true) AS labels_json"),
            *[
                F.expr(f"coalesce(sum({c}), 0D) AS {c}")
                if c in ("inc", "inc_keep", "rate_sum")
                else F.expr(f"sum({c}) AS {c}")
                for c in sums
            ],
            F.expr("sum(nser) AS nser"),
        )

        vals = {
            "total": ("__total", "true"),
            "total_prometheus": ("__total_prom", "true"),
            "sum_samples_total": ("__ss_total", "true"),
            "increase": ("inc_keep", "n_keep > 0"),
            "increase_prometheus": ("inc", "n_inc > 0"),
            "rate_sum": ("rate_sum", "n_inc > 0"),
            "rate_avg": ("try_divide(rate_sum, nser)", "nser > 0"),
        }
        cols = [
            F.col("*"),
            F.expr(f"{ready('w')} AS __ready"),
            *[
                _out_name(cfg, o).alias(f"__name{i}")
                for i, o in enumerate(self.outputs)
            ],
        ]
        if self._totals:
            # ready windows sort right after the group's totals row, so a
            # running sum from it is the total at each flushed window
            gw = "OVER (PARTITION BY name, gkey ORDER BY w ASC NULLS FIRST"
            run = f"{gw} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            cols += [
                F.expr(f"sum(inc_keep) {run} AS __total"),
                F.expr(f"sum(inc) {run} AS __total_prom"),
                F.expr(f"sum(ss) {run} AS __ss_total"),
                F.expr(f"lead(w) {gw}) AS __next_w"),
            ]
        agg = agg.select(*cols)

        # every row derived from the aggregate comes from one projection,
        # so the aggregation (and the totals window) runs once
        agg_rows = [
            f"IF(w IS NOT NULL AND NOT __ready, "
            f"{self._row('w', **{c: c for c in key + sums})}, NULL)"
        ]
        if self._totals:
            t_row = self._row(
                "t",
                name="name",
                gkey="gkey",
                labels_json="labels_json",
                inc="__total_prom",
                inc_keep="__total",
                ss="__ss_total",
            )
            agg_rows.append(
                f"IF((w IS NULL OR __ready) AND NOT {ready('__next_w')}, {t_row}, NULL)"
            )
        for i, o in enumerate(self.outputs):
            val, cond = f"CAST({vals[o][0]} AS DOUBLE)", vals[o][1]
            o_row = self._row(
                "o",
                name=f"__name{i}",
                labels_json="labels_json",
                ts=f"w + {iv}",
                value=val,
            )
            agg_rows.append(
                f"IF(__ready AND {cond} AND NOT isnan({val}), {o_row}, NULL)"
            )
        s_row = self._row(
            "s", **{c: c for c in ("name", "gkey", "labels_json", "sk", "ts", "value")}
        )
        out = self._rows(lagged.filter("kind != 'x' AND __last"), s_row).unionByName(
            self._rows(agg, *agg_rows)
        )
        if wser is not None:
            x_row = self._row("x", **{c: c for c in ("name", "gkey", "sk", "w")})
            out = out.unionByName(self._rows(wser.filter(f"NOT {ready('w')}"), x_row))
        return out
