#!/usr/bin/env python
"""Micro-bench for the storage maintenance tiers (round 9): after a
small append to ONE day of a month-wide table, compare

- full-table rewrite (the pre-round-9 compaction),
- partition-scoped compaction (rewrites only the appended day),
- size-tiered small-part merge (rewrites only the appended FILES).

The point is the scaling LAW, not the absolute numbers: at 100 TB the
full rewrite is proportional to the table, the partition compact to one
day, the tiered merge to the freshly-appended bytes.

It also reports the compacted table's bytes on disk: per row, and per
column as the compressed column-chunk bytes summed from the parquet
footers (``footer`` is the rest of each file).

Usage: python scripts/maintenance_bench.py [sf_dir]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from victoriametrics_spark.session import get_spark
    from victoriametrics_spark.sources.events import events_as_samples
    from victoriametrics_spark.storage import (
        append_samples,
        compact_samples_table,
        drop_samples_table,
        merge_small_parts,
        write_samples_table,
    )

    spark = get_spark("maintenance-bench")
    spark.sparkContext.setLogLevel("ERROR")
    samples = events_as_samples(spark, sf_dir)
    day0 = samples.select(
        F.min(F.to_date(F.timestamp_millis("ts")))
    ).first()[0]
    one_day = samples.filter(
        F.to_date(F.timestamp_millis("ts")) == F.lit(day0)
    ).limit(20)

    def sizes(table: str) -> dict:
        out = {}
        for uri in spark.table(table).inputFiles():
            p = uri[7:] if uri.startswith("file://") else uri
            out[p] = os.stat(p).st_size
        return out

    def footprint(table: str) -> dict:
        import pyarrow.parquet as pq

        cols: dict = {}
        total = rows = 0
        for path, size in sizes(table).items():
            md = pq.ParquetFile(path).metadata
            total += size
            rows += md.num_rows
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    chunk = rg.column(c)
                    name = chunk.path_in_schema.split(".")[0]
                    cols[name] = cols.get(name, 0) + chunk.total_compressed_size
        cols["footer"] = total - sum(cols.values())
        return {
            "bytes_per_row": round(total / max(rows, 1), 3),
            "column_bytes": cols,
        }

    def build(table: str) -> int:
        """Returns a size threshold that separates the appended small
        files from the base day files (at tiny SFs their sizes are
        close; at real scale a day file is orders of magnitude larger)."""
        drop_samples_table(spark, table)
        write_samples_table(samples, table, n_buckets=16)
        base = sizes(table)
        append_samples(one_day, table, n_buckets=16)
        append_samples(one_day, table, n_buckets=16)
        appended = {p: s for p, s in sizes(table).items() if p not in base}
        return (min(base.values()) + max(appended.values())) // 2

    out: dict = {"sf_dir": sf_dir}
    n_rows = samples.count()
    out["rows"] = n_rows

    build("mb_full")
    t0 = time.time()
    compact_samples_table(spark, "mb_full", n_buckets=16, full=True)
    out["full_rewrite_sec"] = round(time.time() - t0, 3)
    out["compacted"] = footprint("mb_full")
    drop_samples_table(spark, "mb_full")

    build("mb_part")
    t0 = time.time()
    compact_samples_table(spark, "mb_part", n_buckets=16)
    out["partition_compact_sec"] = round(time.time() - t0, 3)
    drop_samples_table(spark, "mb_part")

    threshold = build("mb_tier")
    t0 = time.time()
    merged = merge_small_parts(spark, "mb_tier", max_small_bytes=threshold)
    out["tiered_merge_sec"] = round(time.time() - t0, 3)
    out["tiered_merged_files"] = merged
    drop_samples_table(spark, "mb_tier")

    out["speedup_partition_vs_full"] = round(
        out["full_rewrite_sec"] / max(out["partition_compact_sec"], 1e-9), 2
    )
    out["speedup_tiered_vs_full"] = round(
        out["full_rewrite_sec"] / max(out["tiered_merge_sec"], 1e-9), 2
    )

    # ------- lifecycle tiers (late round 9): retention drop is
    # metadata-only (O(#partitions), zero data read); physical
    # downsampling rewrites only the aged partitions; the repeat call is
    # state-stamped metadata-only. The scaling law: retention cost is
    # independent of table size, downsample cost ∝ aged bytes.
    from victoriametrics_spark.storage import (
        apply_retention,
        downsample_partitions,
    )

    drop_samples_table(spark, "mb_life")
    write_samples_table(samples, "mb_life", n_buckets=16)
    span = samples.select(F.min("ts"), F.max("ts")).first()
    lo, hi = span[0], span[1]
    now_ms = hi + 86_400_000
    cut = lo + (hi - lo) // 4  # drop the oldest ~quarter
    t0 = time.time()
    ret = apply_retention(
        spark, "mb_life", now_ms=now_ms, retention_ms=now_ms - cut
    )
    out["retention_drop_sec"] = round(time.time() - t0, 3)
    out["retention_dropped_partitions"] = len(ret["dropped_partitions"])
    rules = [((now_ms - hi) + (hi - lo) // 2, 6 * 3_600_000)]
    t0 = time.time()
    ds = downsample_partitions(spark, "mb_life", rules, now_ms)
    out["downsample_sec"] = round(time.time() - t0, 3)
    out["downsampled_partitions"] = len(ds)
    t0 = time.time()
    ds2 = downsample_partitions(spark, "mb_life", rules, now_ms)
    out["downsample_repeat_sec"] = round(time.time() - t0, 3)
    assert ds2 == []
    drop_samples_table(spark, "mb_life")

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
