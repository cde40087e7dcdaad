"""Canonical sample schema and series identity.

Mirrors the reference's data model (SURVEY.md §1): a sample is
(metric name, label map, unix-ms timestamp, float64 value), columnar at
rest. Reference shapes: MetricName{MetricGroup, Tags} at
lib/storage/metric_name.go:137-143, rawRow{TSID, Timestamp int64 ms,
Value float64} at lib/storage/raw_row.go:30-45.

Design decisions (documented in SURVEY.md §1.4):
- labels is MAP<STRING,STRING> — keeps Spark schema fixed while label sets
  stay fully dynamic, exactly VM's model. ``__name__`` is NOT stored in the
  map; it lives in the ``name`` column (VM's MetricGroup).
- "no sample" is an absent row, never NULL/NaN values. The Prometheus
  staleness marker (StaleNaN, lib/decimal/decimal.go:399-401) is the
  explicit boolean column ``is_stale`` — NaN never round-trips Spark SQL.
- ``series_id`` replaces VM's hashed TSID sort key (lib/storage/tsid.go:17-47):
  a deterministic xxhash64 of the canonical series string, used for
  partitioning, joins and dedup. Computed, never stored as ground truth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SAMPLE_SCHEMA = StructType(
    [
        StructField("name", StringType(), nullable=False),
        StructField("labels", MapType(StringType(), StringType()), nullable=True),
        StructField("ts", LongType(), nullable=False),  # unix milliseconds
        StructField("value", DoubleType(), nullable=False),
        StructField("is_stale", BooleanType(), nullable=True),
    ]
)

SAMPLE_COLUMNS = [f.name for f in SAMPLE_SCHEMA.fields]


def canonical_labels_str(labels: Column) -> Column:
    """Canonical string form of a label map: sorted ``k=v`` joined by ``,``.

    VM canonicalizes by sorting tags by key (lib/storage/metric_name.go:
    sortTags); we do the same so equal label sets always hash equal.
    Empty-valued labels are treated as absent (Prometheus semantics).
    """
    entries = F.array_sort(
        F.map_entries(F.map_filter(labels, lambda _, v: v != F.lit("")))
    )
    return F.array_join(
        F.transform(entries, lambda e: F.concat(e["key"], F.lit("\x01"), e["value"])),
        "\x02",
    )


def series_key(name: Column, labels: Column) -> Column:
    """Full canonical series string: name + canonical labels."""
    return F.concat(
        name, F.lit("\x00"), canonical_labels_str(F.coalesce(labels, F.create_map()))
    )


def series_id(name: Column, labels: Column) -> Column:
    """Deterministic numeric series identity (TSID analog)."""
    return F.xxhash64(series_key(name, labels))


def samples_from_columns(
    df: DataFrame,
    *,
    name,
    label_cols: dict[str, Column | str],
    ts: Column | str,
    value: Column | str,
) -> DataFrame:
    """Normalize an arbitrary relational DataFrame into the sample schema.

    ``ts`` may be a timestamp column (converted to unix ms) or already a
    BIGINT of unix ms. This is the standard adapter every ingest source
    funnels through (the Spark analog of VM's InsertCtx.WriteDataPoint
    normalization, app/vminsert/common/insert_ctx.go:133).
    """
    ts_col = F.col(ts) if isinstance(ts, str) else ts
    dtype = df.select(ts_col.alias("_t")).schema[0].dataType
    if isinstance(dtype, LongType):
        ts_ms = ts_col
    else:
        # timestamp → unix milliseconds, integer-exact (truncating micros,
        # matching DuckDB's epoch_ms); a float round-trip could flip the
        # truncation at exact-millisecond boundaries
        micros = F.unix_micros(ts_col.cast("timestamp"))
        ts_ms = ((micros - micros % 1000) / F.lit(1000)).cast("long")

    value_col = F.col(value) if isinstance(value, str) else value
    name_col = F.lit(name) if isinstance(name, str) else name
    pairs = []
    for k, v in label_cols.items():
        pairs.append(F.lit(k))
        pairs.append((F.col(v) if isinstance(v, str) else v).cast("string"))
    labels = F.map_from_arrays(
        F.array(*pairs[0::2]), F.array(*pairs[1::2])
    ) if pairs else F.create_map()
    # Precompute the canonical series key from the STATICALLY known
    # label set: byte-identical to series_key() — keys sorted
    # lexicographically at plan-build time, empty/null values dropped
    # (concat_ws skips the null branch exactly as map_filter drops the
    # entry) — but pure whole-stage-codegen concat instead of the
    # 5-HOF interpreted map fold, which cost ~0.66s per query on the
    # single-split events scan (static form: 0.13s). The planner's
    # fetch path reuses __series_key when the source carries it.
    key_parts = []
    for k in sorted(label_cols):
        v = label_cols[k]
        vcol = (F.col(v) if isinstance(v, str) else v).cast("string")
        key_parts.append(
            F.when(vcol != "", F.concat(F.lit(k), F.lit("\x01"), vcol))
        )
    skey = F.concat(
        name_col.cast("string"),
        F.lit("\x00"),
        F.concat_ws("\x02", *key_parts) if key_parts else F.lit(""),
    )
    return df.select(
        name_col.cast("string").alias("name"),
        labels.alias("labels"),
        ts_ms.alias("ts"),
        value_col.cast("double").alias("value"),
        F.lit(False).alias("is_stale"),
        skey.alias("__series_key"),
    )
