"""Loader for the driver-generated TPC-H-ish testdata tables.

The parquet files store TIMESTAMP(NANOS), which Spark reads only with
``spark.sql.legacy.parquet.nanosAsLong=true`` (set in session.py) — the
loader converts those long-nanos columns back to proper timestamps so
query code sees the same schema DuckDB does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

_TS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


_SCHEMA_CACHE: dict[tuple[str, float], object] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    try:
        # driver-supplied sessions may lack this; it is runtime-settable
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    # remember the inferred schema per (path, mtime): a schema-less
    # spark.read.parquet fires a one-task schema-inference JOB on every
    # plan build (~0.1-0.2s of the warm query latency); declaring the
    # schema skips it. A production deployment declares table schemas
    # anyway (catalog/metastore); the mtime in the key means an
    # in-place regeneration of the file re-infers instead of serving a
    # stale schema.
    import os as _os

    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (path, _os.path.getmtime(path))
    except OSError:
        key = (path, 0.0)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    df = spark.read.schema(schema).parquet(path)
    for c in _TS_COLS.get(name, []):
        if isinstance(df.schema[c].dataType, LongType):
            # long nanos → microseconds → timestamp (UTC session).
            # MUST be integral `div`: nanos ~1.7e18 exceed double's 2^53
            # exact range, so any float path corrupts the low digits.
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    if spread and name in _SPREAD_TABLES:
        df = _spread_small_scan(spark, df, path)
    return df


# A single-row-group parquet file is one input split no matter what
# maxPartitionBytes says, so EVERYTHING between the scan and the first
# exchange — series-key construction, shingle/md5 work, mapInPandas
# batches, shuffle-write partitioning — runs in ONE task (measured: the
# map stage of the flagship rollup was 1.28s of a 2.1s query, serial).
# When the source yields fewer splits than the session has cores, spread
# the scan with a round-robin repartition; the decision is derived from
# file size vs spark.sql.files.maxPartitionBytes, so a production-scale
# input (thousands of splits) never pays it. Rows are threshold-gated so
# dimension tables (region/nation/...) skip the extra exchange. The
# repartition is deterministic under retry (Spark sorts before
# round-robin repartition, SPARK-23207). Results are unchanged for every
# engine path EXCEPT unrounded floating-point aggregation, where the
# accumulation order changes the last ulp: callers whose output is a raw
# double sum compared bit-exactly against the sequential oracle pass
# ``spread=False`` (sole case: rel_stats_rate's rate_sum).
#
# Scope (measured, repeated in-process A/B at sf0.1): spreading pays
# only where per-row map work is heavy — the text/vector payload tables
# (documents: tokenize+shingle+k·md5, mapInPandas entropy/repetition;
# embeddings: per-vector folds) gained 0.9-1.6s per query, while
# spreading the narrow sample tables (events/orders/lineitem) was a
# wash: the extra AQE stage (~0.15s) canceled the parallel-map win on
# light queries (mq_rate_fine_step +0.5s, gr_summarize +0.35s) and the
# mq plans' audited shuffle floor (2 Exchange flagship, 0 Exchange
# bucketed canary) would no longer hold. At production scale those
# scans have real splits and none of this fires.
_SPREAD_TABLES = {"documents", "embeddings"}
_SPREAD_MIN_ROWS = 2000


def _spread_small_scan(spark, df: DataFrame, path: str):
    import os as _os

    n_par = spark.sparkContext.defaultParallelism
    if n_par <= 1:
        return df
    try:
        size = _os.path.getsize(path)
        raw = spark.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 << 20)
        ).strip().lower()
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        raw = raw.removesuffix("b")
        mult = units.get(raw[-1:], 1)
        max_split = int(raw.rstrip("kmg") or "0") * mult
    except Exception:
        return df
    if max_split <= 0:
        return df
    est_splits = max(1, -(-size // max_split))
    if est_splits >= n_par:
        return df
    try:
        import pyarrow.parquet as _pq

        n_rows = _pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return df
    if n_rows < _SPREAD_MIN_ROWS:
        return df
    # ~1000 rows per task: enough per-task work to amortize scheduling
    # (~10ms/task locally), while a 100k-row table still fans out to
    # every core. Capped at the session parallelism.
    target = min(n_par, max(2, n_rows // 1000))
    return df.repartition(target)
