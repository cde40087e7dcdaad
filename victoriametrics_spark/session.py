"""SparkSession factory tuned for this engine.

Pinned decisions (see SURVEY.md §1.4, §4):
- UTC session timezone — the reference stores int64 unix-ms timestamps and
  evaluates all date functions in UTC (lib/storage/raw_row.go:34); DuckDB
  oracle comparison also requires UTC.
- AQE on — runtime re-planning stands in for the reference's adaptive
  search/merge machinery at 100TB scale (skew joins, coalesced shuffles).
- Arrow on — every Python-side escape hatch is a vectorized pandas UDF.
- Codegen class cache at 1000 entries — whole-stage codegen is free only
  while the compiled classes of a workload stay cached. One corpus pass
  generates 205 distinct classes (224 per process, 201 for the ingest mix),
  so Spark's default LRU of 100 recompiles every class on every pass. A
  class's bytecode averages 2.2-2.4 KB (16 KB at most), so 1000 entries
  hold about 2.4 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(app_name: str = "victoriametrics-spark") -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster the master/deploy settings come from spark-submit,
    and everything configured for every session here is cluster-size
    independent. The local session alone gets its parallelism pinned to
    the core count: ``default.parallelism`` and ``shuffle.partitions``.
    A cluster session keeps spark-submit's ``shuffle.partitions`` (Spark's
    default is 200), which AQE coalesces downward at runtime. The shuffle
    partitions, capped at 32, are also the bucket count of a new samples
    or logs table (``storage.layout.default_buckets``): one per core on a
    local session, 32 under Spark's default on a cluster.
    """
    n = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # duplicate label names in one ingested line keep the last value
        # instead of failing the job (the reference tolerates
        # `{label="a", label="a"}` — apptest issues/172)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata uses TIMESTAMP(NANOS) which vanilla Spark rejects;
        # read as long (ns) and convert in the table loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # MapType/timestamp-safe Arrow fallback instead of hard error.
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "true")
        # skip per-DataFrame-op Python call-site capture (PySpark 4 debug
        # aid): the span/eligibility plans build thousands of Column ops,
        # and the capture doubles driver-side plan-construction latency
        # (measured 1.40s → 0.65s for sum(rate(m[1d])) by (k) cold build)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        # each JVM's LRU of compiled codegen classes; the measured working
        # set is 224 (corpus) and 201 (ingest mix) classes per process,
        # above the default 100 (see the module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # bucketed sample tables (storage/layout.py) live here; on a real
        # cluster this is an object-store path from spark-submit conf
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/vmspark_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_MASTER") and "local" not in os.environ.get(
        "MASTER", ""
    ):
        builder = builder.master(f"local[{n}]")
        # local-mode-only tuning (measured ~7% on the bench suite):
        # shuffle blocks never cross a network here, so compression is
        # pure CPU cost, and locality waits are meaningless with one
        # executor. A real cluster (spark-submit master) must NOT get
        # these — compressed shuffles and locality waits are the right
        # defaults when blocks move between hosts. The default
        # parallelism is set here only: on a cluster it is the executors'
        # core total, which bucketed writes size their tasks by
        # (storage/layout.py _by_bucket). So are the shuffle partitions:
        # the driver's core count says nothing of a cluster's, and they
        # size a new table's buckets (storage/layout.py default_buckets).
        builder = (
            builder.config("spark.default.parallelism", str(n))
            .config("spark.sql.shuffle.partitions", str(n))
            .config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.locality.wait", "0s")
        )
    return builder.getOrCreate()


def codegen_compilations(spark: SparkSession) -> int:
    """Generated classes janino has compiled in this JVM since it started,
    each a miss in the codegen class cache (``CodegenMetrics``)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
