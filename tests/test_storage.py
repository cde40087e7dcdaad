"""Storage layout (victoriametrics_spark/storage/layout.py): the
date-partitioned / series-bucketed / ts-sorted table that replaces VM's
monthly partitions + per-day index (lib/storage/partition.go:98,
lib/storage/index_db.go:2713) at Spark scale.

The load-bearing assertion: a rate() query over the bucketed scan has
ZERO Exchange nodes — the scan's bucket partitioning feeds the
per-series lag window and the (series, grid-index) aggregation directly.
"""

from __future__ import annotations

import contextlib

import pyspark.sql.functions as F
import pytest

from victoriametrics_spark import EvalConfig, evaluate
from victoriametrics_spark.schema import samples_from_columns
from victoriametrics_spark.storage import (
    append_samples,
    compact_samples_table,
    read_samples_table,
    write_samples_table,
)

H = 3600_000
DAY = 24 * H
T0 = 1704067200000  # 2024-01-01T00:00:00Z


def _mk_samples(spark, rows):
    df = spark.createDataFrame(rows, "series string, ts long, value double")
    return samples_from_columns(
        df,
        name="m",
        label_cols={"s": "series"},
        ts="ts",
        value="value",
    )


@pytest.fixture(scope="module")
def stored(spark):
    rows = [
        (s, T0 + d * DAY + h * H, float(d * 24 + h + i))
        for i, s in enumerate(["a", "b", "c"])
        for d in range(3)
        for h in range(24)
    ]
    write_samples_table(_mk_samples(spark, rows), "t_store", n_buckets=4)
    return rows


def _physical_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_round_trip_values(spark, stored):
    back = read_samples_table(spark, "t_store")
    assert back.count() == len(stored)
    got = {
        (r["labels"]["s"], r["ts"], r["value"])
        for r in back.select("labels", "ts", "value").collect()
    }
    assert got == set(stored)


def test_partition_pruning(spark, stored):
    # only day 2 in range → scan reads one date dir (pruning is
    # date-granular by design; see read_samples_table docstring)
    day2 = read_samples_table(
        spark, "t_store", start_ms=T0 + 2 * DAY, end_ms=T0 + 3 * DAY - 1
    )
    assert day2.count() == 3 * 24
    plan = _physical_plan(day2)
    assert "PartitionFilters" in plan


def test_rate_plan_has_no_exchange(spark, stored):
    cfg = EvalConfig(start=T0 + DAY, end=T0 + 3 * DAY, step=6 * H)
    bucketed = read_samples_table(
        spark, "t_store", cfg.start, cfg.end, lookback_ms=DAY
    )
    df = evaluate(spark, "rate(m[1d])", bucketed, cfg)
    plan = _physical_plan(df)
    assert "Exchange" not in plan, plan
    assert df.count() > 0


def test_bucketed_matches_flat_scan(spark, stored):
    cfg = EvalConfig(start=T0 + DAY, end=T0 + 3 * DAY, step=6 * H)
    bucketed = read_samples_table(
        spark, "t_store", cfg.start, cfg.end, lookback_ms=DAY
    )
    flat = _mk_samples(
        spark, stored
    )  # unpartitioned in-memory frame, same data

    def key(df):
        return sorted(
            (r["labels"]["s"], r["ts"], round(r["value"], 9))
            for r in df.collect()
        )

    assert key(evaluate(spark, "increase(m[1d])", bucketed, cfg)) == key(
        evaluate(spark, "increase(m[1d])", flat, cfg)
    )


def test_append_and_compact_with_dedup(spark):
    base = [("x", T0 + h * H, float(h)) for h in range(24)]
    write_samples_table(_mk_samples(spark, base), "t_lsm", n_buckets=2)
    # late append overlapping the same hour bucket (higher value wins ties
    # at same ts; here later ts in the same dedup interval wins)
    late = [("x", T0 + h * H + 1, float(100 + h)) for h in range(0, 24, 2)]
    append_samples(_mk_samples(spark, late), "t_lsm", n_buckets=2)
    assert read_samples_table(spark, "t_lsm").count() == 36

    compact_samples_table(spark, "t_lsm", n_buckets=2, dedup_interval_ms=H)
    back = read_samples_table(spark, "t_lsm")
    assert back.count() == 24
    got = {r["ts"]: r["value"] for r in back.select("ts", "value").collect()}
    # even hours: the late (+1 ms) sample won, keeping its own ts;
    # odd hours: original kept
    assert got[T0 + 1] == 100.0 and got[T0 + H] == 1.0


def test_series_key_column_reused(spark, stored):
    # the physical __series_key must flow into the window/groupBy —
    # recomputing it would break bucket alignment
    bucketed = read_samples_table(spark, "t_store")
    assert "__series_key" in bucketed.columns
    cfg = EvalConfig(start=T0 + DAY, end=T0 + 2 * DAY, step=6 * H)
    df = evaluate(spark, "avg_over_time(m[1d])", bucketed, cfg)
    assert "Exchange" not in _physical_plan(df)


# ----------------------------------------------------------------- logs
@pytest.fixture(scope="module")
def log_table(spark):
    from datetime import datetime

    from victoriametrics_spark.storage.layout import (
        drop_samples_table,
        write_logs_table,
    )

    drop_samples_table(spark, "t_logs")
    rows = []
    for d in range(1, 4):
        for h in range(0, 24, 2):
            for app in ("web", "db"):
                rows.append(
                    (
                        datetime(2024, 1, d, h),
                        f"req app={app} d={d} h={h}",
                        app,
                        float(d * 100 + h),
                    )
                )
    df = spark.createDataFrame(rows, ["_time", "_msg", "app", "value"])
    write_logs_table(df, "t_logs", stream_fields=["app"], n_buckets=4)
    return rows


def test_logs_round_trip_and_pruning(spark, log_table):
    from victoriametrics_spark.storage.layout import read_logs_table

    back = read_logs_table(spark, "t_logs")
    assert back.count() == len(log_table)
    assert "_stream" in back.columns
    day2 = read_logs_table(
        spark,
        "t_logs",
        start_ms=1704153600000,  # 2024-01-02
        end_ms=1704239999999,
    )
    assert day2.count() == 24
    assert "PartitionFilters" in _physical_plan(day2)


def test_logsql_over_bucketed_logs(spark, log_table):
    from victoriametrics_spark.logsql.parser import run_logsql
    from victoriametrics_spark.storage.layout import read_logs_table

    logs = read_logs_table(spark, "t_logs")
    out = run_logsql(
        logs,
        '_stream:{app="web"} | stats by (app) count() as n',
    ).collect()
    assert out[0]["n"] == 36
    # stream_context over the bucketed table: per-stream window needs no
    # full-frame shuffle of a foreign partitioning — the plan's only
    # exchanges are hash on _stream (already the bucket key) or the
    # broadcast/semi-join of matches
    ctx = run_logsql(
        logs,
        '_stream:{app="web"} value:=302.0 | stream_context before 1 after 1',
    )
    ids = sorted(r["value"] for r in ctx.collect())
    assert ids == [300.0, 302.0, 304.0]


def test_downsample_semantics(spark):
    from victoriametrics_spark.schema import SAMPLE_SCHEMA
    from victoriametrics_spark.storage.downsample import downsample

    H = 3_600_000
    now = 100 * H
    rows = [
        # fresh (age < 10h): kept raw
        ("m", {"s": "a"}, now - H, 1.0, False),
        ("m", {"s": "a"}, now - 2 * H, 2.0, False),
        # aged ≥10h → one per 4h bucket, last ts wins
        ("m", {"s": "a"}, now - 11 * H, 3.0, False),   # bucket 22
        ("m", {"s": "a"}, now - 12 * H, 4.0, False),   # bucket 22
        ("m", {"s": "a"}, now - 13 * H, 5.0, False),   # bucket 21
        # tie on ts → max value wins
        ("m", {"s": "b"}, now - 11 * H, 7.0, False),
        ("m", {"s": "b"}, now - 11 * H, 9.0, False),
    ]
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)
    out = downsample(df, rules=[(10 * H, 4 * H)], now_ms=now)
    got = {
        (r["labels"]["s"], r["ts"], r["value"]) for r in out.collect()
    }
    assert got == {
        ("a", now - H, 1.0),
        ("a", now - 2 * H, 2.0),
        ("a", now - 11 * H, 3.0),
        ("a", now - 13 * H, 5.0),
        ("b", now - 11 * H, 9.0),
    }


def test_multi_tenant_isolation(spark):
    """Tenant partition column (lib/storage/search.go:327 AccountID/
    ProjectID analog): writes tagged per tenant land in separate
    partition directories, scans must be tenant-scoped, and identical
    series names never leak across tenants."""
    from victoriametrics_spark.api.http import parse_tenant, with_tenant
    from victoriametrics_spark.storage.layout import drop_samples_table

    assert parse_tenant("7") == "7:0"
    assert parse_tenant("7:3") == "7:3"
    with pytest.raises(ValueError):
        parse_tenant("x:y")

    rows_a = [("a", T0 + i * H, float(i)) for i in range(24)]
    rows_b = [("a", T0 + i * H, float(100 + i)) for i in range(24)]
    df = with_tenant(_mk_samples(spark, rows_a), "1:0").unionByName(
        with_tenant(_mk_samples(spark, rows_b), "2:0")
    )
    write_samples_table(df, "t_tenants", n_buckets=4)
    try:
        # unscoped scan of a tenanted table is an error, like VM where
        # every search carries an (AccountID, ProjectID)
        with pytest.raises(ValueError, match="multi-tenant"):
            read_samples_table(spark, "t_tenants")

        cfg = EvalConfig(start=T0, end=T0 + 23 * H, step=H)
        t1 = read_samples_table(spark, "t_tenants", tenant="1:0")
        t2 = read_samples_table(spark, "t_tenants", tenant="2:0")
        v1 = {r["ts"]: r["value"] for r in evaluate(
            spark, "last_over_time(m[1h])", t1, cfg).collect()}
        v2 = {r["ts"]: r["value"] for r in evaluate(
            spark, "last_over_time(m[1h])", t2, cfg).collect()}
        assert v1[T0] == 0.0 and v2[T0] == 100.0
        assert all(v2[k] == v1[k] + 100.0 for k in v1)

        # short-form token canonicalization: tenant="1" ≡ "1:0" — it must
        # match the canonical partition value, not silently return an
        # empty scan; malformed tokens error instead of matching nothing
        t1_short = read_samples_table(spark, "t_tenants", tenant="1")
        assert t1_short.count() == t1.count() > 0
        with pytest.raises(ValueError, match="invalid tenant"):
            read_samples_table(spark, "t_tenants", tenant="x:y")

        # tenant scoping is partition-directory pruning, visible in the
        # scan's PartitionFilters
        plan = t1._jdf.queryExecution().executedPlan().toString()
        assert "tenant" in plan and "PartitionFilters" in plan
    finally:
        drop_samples_table(spark, "t_tenants")


def test_multi_tenant_logs_isolation(spark):
    """Logs-side tenancy (VictoriaLogs AccountID/ProjectID headers):
    tenant partitions the log table, scoped reads prune to the tenant's
    directories, unscoped reads of tenanted tables are rejected."""
    from datetime import datetime

    from victoriametrics_spark.api.http import with_tenant
    from victoriametrics_spark.logsql.parser import run_logsql
    from victoriametrics_spark.storage.layout import (
        drop_samples_table,
        read_logs_table,
        write_logs_table,
    )

    def mk(tag):
        rows = [
            (datetime(2024, 1, 1, h), f"{tag} msg {h}", "web")
            for h in range(6)
        ]
        return spark.createDataFrame(rows, ["_time", "_msg", "app"])

    df = with_tenant(mk("alpha"), "1").unionByName(with_tenant(mk("beta"), "2:0"))
    write_logs_table(df, "t_logs_tenants", stream_fields=["app"], n_buckets=2)
    try:
        with pytest.raises(ValueError, match="multi-tenant"):
            read_logs_table(spark, "t_logs_tenants")
        t1 = read_logs_table(spark, "t_logs_tenants", tenant="1:0")
        t2 = read_logs_table(spark, "t_logs_tenants", tenant="2:0")
        assert "tenant" not in t1.columns
        n1 = run_logsql(t1, "alpha | stats count() as n").collect()[0]["n"]
        n2 = run_logsql(t2, "alpha | stats count() as n").collect()[0]["n"]
        assert (n1, n2) == (6, 0)
        plan = t1._jdf.queryExecution().executedPlan().toString()
        assert "tenant" in plan
    finally:
        drop_samples_table(spark, "t_logs_tenants")


def test_delete_series_tombstones(spark):
    """/api/v1/admin/tsdb/delete_series engine work (deleted-metricIDs
    analog, lib/storage/index_db.go): delete → matching series vanish
    from reads; other series intact; re-ingest after the delete IS
    served (VM: re-registration gets a fresh metricID); compaction
    physically drops the dead rows and clears the tombstones."""
    import time

    from victoriametrics_spark.storage import delete_series, drop_samples_table

    rows = [
        (s, T0 + h * H, float(ord(s) * 100 + h))
        for s in ("a", "b")
        for h in range(12)
    ]
    write_samples_table(_mk_samples(spark, rows), "t_del", n_buckets=4)
    try:
        cfg = EvalConfig(start=T0, end=T0 + 11 * H, step=H)

        def series_set():
            t = read_samples_table(spark, "t_del")
            out = evaluate(spark, "last_over_time(m[1h])", t, cfg)
            return {r["labels"]["s"] for r in out.collect()}

        assert series_set() == {"a", "b"}
        n = delete_series(spark, "t_del", ['m{s="a"}'])
        assert n == 1
        assert series_set() == {"b"}
        # deleting again matches nothing (already tombstoned)
        assert delete_series(spark, "t_del", ['m{s="a"}']) == 0

        # re-ingest AFTER the delete: the new samples are served
        time.sleep(0.05)  # file mtime strictly after the tombstone
        append_samples(
            _mk_samples(spark, [("a", T0 + h * H, 7.0) for h in range(3)]),
            "t_del",
            n_buckets=4,
        )
        spark.catalog.refreshTable("t_del")
        assert series_set() == {"a", "b"}
        t = read_samples_table(spark, "t_del")
        vals = {
            r["ts"]: r["value"]
            for r in t.filter(F.col("labels")["s"] == "a").collect()
        }
        assert vals == {T0 + h * H: 7.0 for h in range(3)}  # old rows gone

        # compaction drops dead rows physically and clears tombstones
        compact_samples_table(spark, "t_del", n_buckets=4)
        assert not spark.catalog.tableExists("t_del__tombstones")
        assert series_set() == {"a", "b"}
        t = read_samples_table(spark, "t_del")
        assert t.filter(F.col("labels")["s"] == "a").count() == 3
        assert t.filter(F.col("labels")["s"] == "b").count() == 12
    finally:
        drop_samples_table(spark, "t_del")


def _file_snapshot(spark, table):
    """{file_path: mtime_ns} for every data file of the table."""
    import os
    from urllib.parse import unquote

    out = {}
    for uri in spark.table(table).inputFiles():
        # the URI re-escapes the partition dir: tenant=1%3A0 → 1%253A0
        p = unquote(uri[7:] if uri.startswith("file://") else uri)
        out[p] = os.stat(p).st_mtime_ns
    return out


def test_compact_is_partition_scoped(spark):
    """VM merges per partition (lib/storage/partition.go:35-42), never
    the whole table: a compact after appends to ONE day must leave every
    other day's files byte-identical (same paths, same mtimes)."""
    from victoriametrics_spark.storage import drop_samples_table

    rows = [
        (s, T0 + d * DAY + h * H, float(d * 24 + h))
        for s in ("a", "b")
        for d in range(3)
        for h in range(24)
    ]
    write_samples_table(_mk_samples(spark, rows), "t_pscope", n_buckets=2)
    try:
        late = [("a", T0 + DAY + h * H + 1, 999.0) for h in range(4)]
        append_samples(_mk_samples(spark, late), "t_pscope", n_buckets=2)
        before = _file_snapshot(spark, "t_pscope")
        compact_samples_table(spark, "t_pscope", n_buckets=2)
        after = _file_snapshot(spark, "t_pscope")
        d1 = f"date={str((__import__('datetime').datetime.utcfromtimestamp((T0 + DAY)/1000)).date())}"
        untouched = {p for p in before if d1 not in p}
        assert untouched, "expected files outside the appended day"
        for p in untouched:
            assert after.get(p) == before[p], f"{p} was rewritten"
        # the appended day is back to one file per occupied bucket
        from collections import Counter

        d1_files = [p for p in after if d1 in p]
        assert d1_files
        suffix_counts = Counter(p.rsplit("_", 1)[1] for p in d1_files)
        assert all(c == 1 for c in suffix_counts.values()), d1_files
        assert read_samples_table(spark, "t_pscope").count() == 148
        # idempotent: a second compact with nothing to do touches nothing
        compact_samples_table(spark, "t_pscope", n_buckets=2)
        assert _file_snapshot(spark, "t_pscope") == after
    finally:
        drop_samples_table(spark, "t_pscope")


def test_partial_compact_keeps_tombstones(spark):
    """A tombstone clears only once EVERY partition holding its dead
    rows has been rewritten (VM keeps deleted metricIDs until the last
    affected part is merged)."""
    from datetime import datetime

    from victoriametrics_spark.storage import delete_series, drop_samples_table

    rows = [
        ("a", T0 + d * DAY + h * H, float(h)) for d in range(2) for h in range(12)
    ] + [("b", T0 + d * DAY + h * H, 5.0) for d in range(2) for h in range(12)]
    write_samples_table(_mk_samples(spark, rows), "t_partial", n_buckets=2)
    try:
        assert delete_series(spark, "t_partial", ['m{s="a"}']) == 1
        day0 = datetime.utcfromtimestamp(T0 / 1000).date()
        day1 = datetime.utcfromtimestamp((T0 + DAY) / 1000).date()
        before = _file_snapshot(spark, "t_partial")
        compact_samples_table(spark, "t_partial", n_buckets=2, dates=[day0])
        # tombstone must survive: day1 still holds dead rows
        assert spark.catalog.tableExists("t_partial__tombstones")
        t = read_samples_table(spark, "t_partial")
        assert t.filter(F.col("labels")["s"] == "a").count() == 0
        assert t.filter(F.col("labels")["s"] == "b").count() == 24
        # day1 files untouched by the day0-scoped compact
        after = _file_snapshot(spark, "t_partial")
        for p in before:
            if f"date={day1}" in p:
                assert after.get(p) == before[p]
        # second compact covers day1 → tombstone clears, rows gone
        compact_samples_table(spark, "t_partial", n_buckets=2, dates=[day1])
        assert not spark.catalog.tableExists("t_partial__tombstones")
        t = read_samples_table(spark, "t_partial")
        assert t.filter(F.col("labels")["s"] == "a").count() == 0
        assert t.count() == 24
    finally:
        drop_samples_table(spark, "t_partial")


def test_tombstones_are_tenant_scoped(spark):
    """delete_series for tenant 1:0 must not hide — or let compaction
    physically drop — the identically-named series of tenant 2:0 (VM:
    deleted metricIDs live in the per-(AccountID, ProjectID) IndexDB)."""
    from victoriametrics_spark.api.http import with_tenant
    from victoriametrics_spark.storage import delete_series, drop_samples_table

    rows = [("a", T0 + h * H, float(h)) for h in range(12)]
    df = with_tenant(_mk_samples(spark, rows), "1:0").unionByName(
        with_tenant(_mk_samples(spark, rows), "2:0")
    )
    write_samples_table(df, "t_ttomb", n_buckets=2)
    try:
        assert delete_series(spark, "t_ttomb", ['m{s="a"}'], tenant="1:0") == 1
        t1 = read_samples_table(spark, "t_ttomb", tenant="1:0")
        t2 = read_samples_table(spark, "t_ttomb", tenant="2:0")
        assert t1.count() == 0
        assert t2.count() == 12  # other tenant unaffected on read
        compact_samples_table(spark, "t_ttomb", n_buckets=2)
        assert not spark.catalog.tableExists("t_ttomb__tombstones")
        t1 = read_samples_table(spark, "t_ttomb", tenant="1:0")
        t2 = read_samples_table(spark, "t_ttomb", tenant="2:0")
        assert t1.count() == 0
        assert t2.count() == 12  # ...and survives compaction physically
    finally:
        drop_samples_table(spark, "t_ttomb")


def test_compact_drops_fully_dead_partition(spark):
    """A partition whose every row is tombstoned is DROPped (dynamic
    overwrite can't write an empty partition), not left in place."""
    import os

    from victoriametrics_spark.storage import delete_series, drop_samples_table

    rows = [("a", T0 + h * H, 1.0) for h in range(6)] + [
        ("b", T0 + DAY + h * H, 2.0) for h in range(6)
    ]
    write_samples_table(_mk_samples(spark, rows), "t_deadpart", n_buckets=2)
    try:
        assert delete_series(spark, "t_deadpart", ['m{s="a"}']) == 1
        compact_samples_table(spark, "t_deadpart", n_buckets=2)
        assert not spark.catalog.tableExists("t_deadpart__tombstones")
        t = read_samples_table(spark, "t_deadpart")
        assert t.count() == 6
        # the day-0 directory is gone from disk
        loc = spark.conf.get("spark.sql.warehouse.dir") + "/t_deadpart"
        if loc.startswith("file:"):
            loc = loc[5:].lstrip("/")
            loc = "/" + loc
        dirs = {d for d in os.listdir(loc) if d.startswith("date=")}
        assert dirs == {"date=2024-01-02"}
    finally:
        drop_samples_table(spark, "t_deadpart")


def test_merge_small_parts_tiered(spark):
    """Size-tiered small-part merge (VM mergeset analog): appended small
    files merge into one bucket-aligned sorted file per (partition,
    bucket); files above the size threshold stay byte-identical; cost is
    proportional to fresh data, not partition size."""
    from collections import Counter

    from victoriametrics_spark.storage import (
        drop_samples_table,
        merge_small_parts,
    )

    # big base: 5000 rows in one day → file well above the threshold
    base = [("x", T0 + i * 17, float(i)) for i in range(5000)]
    write_samples_table(_mk_samples(spark, base), "t_tier", n_buckets=2)
    big_before = _file_snapshot(spark, "t_tier")
    # three small appends
    for k in range(3):
        late = [("x", T0 + 10_000_000 + k * 1000 + j, 9.0) for j in range(5)]
        append_samples(_mk_samples(spark, late), "t_tier", n_buckets=2)
    pre = _file_snapshot(spark, "t_tier")
    assert len(pre) == len(big_before) + 3
    threshold = max(
        __import__("os").stat(p).st_size
        for p in pre
        if p not in big_before
    ) + 1
    n = merge_small_parts(spark, "t_tier", max_small_bytes=threshold)
    try:
        assert n == 3
        post = _file_snapshot(spark, "t_tier")
        # the big base file untouched, smalls merged to one per bucket
        for p, mt in big_before.items():
            assert post.get(p) == mt
        new_files = [p for p in post if p not in big_before]
        suffix_counts = Counter(p.rsplit("_", 1)[1] for p in new_files)
        assert all(c == 1 for c in suffix_counts.values())
        t = read_samples_table(spark, "t_tier")
        assert t.count() == 5015
        # merged file is internally ts-sorted per series
        rows = spark.read.parquet(new_files[0].replace("file:", "")).collect()
        ts_seq = [r["ts"] for r in rows]
        assert ts_seq == sorted(ts_seq)
        # a second pass has nothing to merge
        assert merge_small_parts(spark, "t_tier", max_small_bytes=threshold) == 0
    finally:
        drop_samples_table(spark, "t_tier")


def test_merge_small_parts_drops_tombstoned_rows(spark):
    """Merging refreshes file mtimes, which would resurrect tombstoned
    rows past the deletion watermark — so the merge must drop dead rows
    itself, while LEAVING the tombstone for compaction (big files may
    still hold dead rows)."""
    from victoriametrics_spark.storage import (
        delete_series,
        drop_samples_table,
        merge_small_parts,
    )

    base = [("a", T0 + i * 1000, 1.0) for i in range(20)] + [
        ("b", T0 + i * 1000, 2.0) for i in range(20)
    ]
    write_samples_table(_mk_samples(spark, base), "t_tiertomb", n_buckets=2)
    append_samples(
        _mk_samples(spark, [("a", T0 + 50_000, 1.0), ("b", T0 + 50_000, 2.0)]),
        "t_tiertomb",
        n_buckets=2,
    )
    append_samples(
        _mk_samples(spark, [("a", T0 + 60_000, 1.0), ("b", T0 + 60_000, 2.0)]),
        "t_tiertomb",
        n_buckets=2,
    )
    assert delete_series(spark, "t_tiertomb", ['m{s="a"}']) == 1
    try:
        merge_small_parts(spark, "t_tiertomb", max_small_bytes=1 << 30)
        # tombstone retained (merge is not compaction)
        assert spark.catalog.tableExists("t_tiertomb__tombstones")
        t = read_samples_table(spark, "t_tiertomb")
        assert t.filter(F.col("labels")["s"] == "a").count() == 0
        assert t.filter(F.col("labels")["s"] == "b").count() == 22
        # and the merged files physically hold no 'a' rows (the fresh
        # mtime must not resurrect them)
        raw = spark.table("t_tiertomb")
        akey = raw.filter(F.col("labels")["s"] == "a")
        assert akey.count() == 0
    finally:
        drop_samples_table(spark, "t_tiertomb")


def test_maintain_samples_table_policy(spark):
    """One-call background-merger policy: dead-row partitions compact
    (tombstones clear), small-append partitions tier-merge (big file
    untouched), clean partitions stay byte-identical."""
    import os

    from victoriametrics_spark.storage import (
        delete_series,
        drop_samples_table,
        maintain_samples_table,
    )

    # day0: clean; day1: big base + small appends; day2: series to delete
    rows = (
        [("a", T0 + i * 60_000, 1.0) for i in range(500)]
        + [("a", T0 + DAY + i * 60_000, 2.0) for i in range(500)]
        + [("kill", T0 + 2 * DAY + i * 60_000, 3.0) for i in range(20)]
        + [("b", T0 + 2 * DAY + i * 60_000, 4.0) for i in range(20)]
    )
    write_samples_table(_mk_samples(spark, rows), "t_maint", n_buckets=2)
    base = _file_snapshot(spark, "t_maint")
    for k in range(2):
        append_samples(
            _mk_samples(
                spark, [("a", T0 + DAY + 40_000_000 + k * 1000, 9.0)]
            ),
            "t_maint",
            n_buckets=2,
        )
    assert delete_series(spark, "t_maint", ['m{s="kill"}']) == 1
    before = _file_snapshot(spark, "t_maint")
    day0 = "date=2024-01-01"
    # a threshold just above the appends: at this size a base file is
    # only a few hundred bytes bigger than a one-row append
    day1_appends = [p for p in before if p not in base]
    threshold = max(os.stat(p).st_size for p in day1_appends) + 1
    out = maintain_samples_table(
        spark, "t_maint", max_small_bytes=threshold, max_files_per_bucket=8
    )
    after = _file_snapshot(spark, "t_maint")
    # clean day0 untouched
    for p in before:
        if day0 in p:
            assert after.get(p) == before[p]
    # day2 compacted: tombstone cleared, kill gone, b intact
    assert "2024-01-03" in out["compacted_dates"]
    assert not spark.catalog.tableExists("t_maint__tombstones")
    t = read_samples_table(spark, "t_maint")
    assert t.filter(F.col("labels")["s"] == "kill").count() == 0
    assert t.filter(F.col("labels")["s"] == "b").count() == 20
    # day1: small appends merged away, big base file untouched
    assert out["merged_files"] == len(day1_appends) >= 2
    big_day1 = [
        p
        for p in before
        if "date=2024-01-02" in p and p not in day1_appends
    ]
    assert big_day1
    for p in big_day1:
        assert after.get(p) == before[p]
    assert t.count() == 1022  # 500+500+2 appends+20 b; kill deleted


def test_merge_small_parts_multi_tenant_encoding(spark):
    """Regression (r9): inputFiles()/_metadata URIs percent-encode the
    partition-dir escaping (tenant '1:0' → dir 'tenant=1%3A0' → URI
    'tenant=1%253A0'); the merge must decode both layers so rows land
    back in the right tenant partition and no tenant's data is lost."""
    from victoriametrics_spark.api.http import with_tenant
    from victoriametrics_spark.storage import (
        drop_samples_table,
        merge_small_parts,
    )

    rows = [("a", T0 + i * H, float(i)) for i in range(12)]
    df = with_tenant(_mk_samples(spark, rows), "1:0").unionByName(
        with_tenant(_mk_samples(spark, rows), "2:0")
    )
    write_samples_table(df, "t_mt_merge", n_buckets=2)
    try:
        extra = [("a", T0 + 100_000, 5.0)]
        for _ in range(2):
            append_samples(
                with_tenant(_mk_samples(spark, extra), "1:0"),
                "t_mt_merge",
                n_buckets=2,
            )
        n1 = read_samples_table(spark, "t_mt_merge", tenant="1:0").count()
        n2 = read_samples_table(spark, "t_mt_merge", tenant="2:0").count()
        merged = merge_small_parts(spark, "t_mt_merge", max_small_bytes=1 << 30)
        assert merged > 0
        assert read_samples_table(spark, "t_mt_merge", tenant="1:0").count() == n1
        assert read_samples_table(spark, "t_mt_merge", tenant="2:0").count() == n2
        # merged files live under the correctly-escaped tenant dirs
        from urllib.parse import unquote

        dirs = {
            unquote(unquote(u.split("/")[-3]))
            for u in spark.table("t_mt_merge").inputFiles()
        }
        assert dirs == {"tenant=1:0", "tenant=2:0"}
    finally:
        drop_samples_table(spark, "t_mt_merge")


def test_apply_retention_drops_expired_partitions(spark):
    """retentionWatcher analog (lib/storage/table.go:446-470): date
    partitions fully older than retention (and partitions starting past
    the future-retention guard) are dropped wholesale — metadata +
    directory delete only, surviving partitions byte-identical. Boundary
    rows inside surviving partitions stay visible until a merge drops
    them (skipSamplesOutsideRetention, lib/storage/merge.go:205)."""
    from victoriametrics_spark.storage import (
        apply_retention,
        drop_samples_table,
        read_samples_table,
    )

    now = T0 + 10 * DAY
    rows = [
        ("a", T0 + d * DAY + h * H, float(d * 24 + h))
        for d in range(4)
        for h in range(24)
    ] + [("a", T0 + 20 * DAY, 99.0)]  # beyond future retention
    write_samples_table(_mk_samples(spark, rows), "t_ret", n_buckets=2)
    try:
        before = _file_snapshot(spark, "t_ret")
        out = apply_retention(
            spark, "t_ret", now_ms=now, retention_ms=8 * DAY
        )
        # day0 (ends T0+1d) and day1 (ends T0+2d = now-8d) fully
        # expired; day2 ends past the deadline and survives whole
        assert [p[-1] for p in out["dropped_partitions"]] == [
            "2024-01-01",
            "2024-01-02",
            "2024-01-21",
        ]
        after = _file_snapshot(spark, "t_ret")
        for p, m in before.items():
            if "date=2024-01-03" in p or "date=2024-01-04" in p:
                assert after.get(p) == m  # byte-identical survivors
        t = read_samples_table(spark, "t_ret")
        assert t.count() == 48  # days 2-3 intact, incl. boundary rows
        # second call: nothing left to drop
        out2 = apply_retention(
            spark, "t_ret", now_ms=now, retention_ms=8 * DAY
        )
        assert out2["dropped_partitions"] == []
        assert _file_snapshot(spark, "t_ret") == after
    finally:
        drop_samples_table(spark, "t_ret")


def test_apply_retention_filters(spark):
    """-retentionFilter analog: series matching a selector get a shorter
    retention; partitions where every matching row has expired are
    rewritten ONCE (the maintenance-state fingerprint makes repeat calls
    metadata-only), other series' rows and partially-expired partitions
    are untouched (lazy, like VM dropping filter-expired rows only
    during merges)."""
    from victoriametrics_spark.storage import (
        apply_retention,
        drop_samples_table,
        read_samples_table,
    )

    now = T0 + 5 * DAY + H
    rows = [
        (s, T0 + d * DAY + h * H, float(h))
        for s in ("a", "b")
        for d in range(5)
        for h in range(24)
    ]
    write_samples_table(_mk_samples(spark, rows), "t_retf", n_buckets=2)
    try:
        out = apply_retention(
            spark,
            "t_retf",
            now_ms=now,
            retention_filters=[('m{s="a"}', 2 * DAY)],
        )
        # fully crossed: end <= now-2d = T0+3d+1h -> days 0,1,2
        assert [p[-1] for p in out["rewritten_partitions"]] == [
            "2024-01-01",
            "2024-01-02",
            "2024-01-03",
        ]
        t = read_samples_table(spark, "t_retf")
        a = t.filter(F.col("labels")["s"] == "a")
        # 'a' gone from rewritten days, intact in days 3-4 (lazy there)
        assert a.filter(F.col("ts") < T0 + 3 * DAY).count() == 0
        assert a.filter(F.col("ts") >= T0 + 3 * DAY).count() == 48
        # 'b' untouched everywhere
        assert t.filter(F.col("labels")["s"] == "b").count() == 120
        # repeat call: state fingerprint, no rewrite
        snap = _file_snapshot(spark, "t_retf")
        out2 = apply_retention(
            spark,
            "t_retf",
            now_ms=now,
            retention_filters=[('m{s="a"}', 2 * DAY)],
        )
        assert out2["rewritten_partitions"] == []
        assert _file_snapshot(spark, "t_retf") == snap
    finally:
        drop_samples_table(spark, "t_retf")


def test_downsample_partitions_in_place(spark):
    """Physical downsampling is partition-scoped maintenance (VM applies
    -downsampling.period during merges): fully-aged partitions are
    rewritten in place (one file per (date, bucket) preserved), fresh
    partitions stay byte-identical, the maintenance-state fingerprint
    makes a second call metadata-only, and a backfill append re-arms
    the check."""
    from victoriametrics_spark.storage import (
        downsample_partitions,
        drop_samples_table,
        read_samples_table,
    )

    now = T0 + 5 * DAY
    rows = [
        ("a", T0 + d * DAY + m * 60_000, float(m))
        for d in range(5)
        for m in range(0, 1440, 10)  # one sample / 10 min
    ]
    write_samples_table(_mk_samples(spark, rows), "t_dsp", n_buckets=2)
    try:
        before = _file_snapshot(spark, "t_dsp")
        done = downsample_partitions(
            spark, "t_dsp", rules=[(2 * DAY, H)], now_ms=now
        )
        # fully aged: end <= now-2d -> days 0,1,2
        assert [p[-1] for p in done] == [
            "2024-01-01",
            "2024-01-02",
            "2024-01-03",
        ]
        after = _file_snapshot(spark, "t_dsp")
        for p, m in before.items():
            if "date=2024-01-04" in p or "date=2024-01-05" in p:
                assert after.get(p) == m
        t = read_samples_table(spark, "t_dsp")
        aged = t.filter(F.col("ts") < T0 + 3 * DAY)
        # one sample per hour survives, the LAST of each hour (:50)
        assert aged.count() == 72
        assert (
            aged.filter(F.col("ts") % H != 50 * 60_000).count() == 0
        )
        assert t.filter(F.col("ts") >= T0 + 3 * DAY).count() == 288
        # second call: state-stamped done, nothing rewritten
        assert (
            downsample_partitions(
                spark, "t_dsp", rules=[(2 * DAY, H)], now_ms=now
            )
            == []
        )
        assert _file_snapshot(spark, "t_dsp") == after
        # backfill into a thinned day changes the file set -> re-armed,
        # re-thinned (idempotent), and the newer sample wins its bucket
        append_samples(
            _mk_samples(spark, [("a", T0 + 55 * 60_000, 111.0)]),
            "t_dsp",
            n_buckets=2,
        )
        done3 = downsample_partitions(
            spark, "t_dsp", rules=[(2 * DAY, H)], now_ms=now
        )
        assert [p[-1] for p in done3] == ["2024-01-01"]
        t = read_samples_table(spark, "t_dsp")
        aged = t.filter(F.col("ts") < T0 + 3 * DAY)
        assert aged.count() == 72
        hour0 = aged.filter(
            (F.col("ts") >= T0) & (F.col("ts") < T0 + H)
        ).collect()
        assert [(r["ts"], r["value"]) for r in hour0] == [
            (T0 + 55 * 60_000, 111.0)
        ]
    finally:
        drop_samples_table(spark, "t_dsp")


def test_downsample_multi_tenant_independent(spark):
    """Two tenants' identically-named series thin independently (series
    keys don't embed the tenant; the downsample window must)."""
    from victoriametrics_spark.api.http import with_tenant
    from victoriametrics_spark.storage.downsample import downsample

    now = 100 * H
    rows = [("a", now - 11 * H, 1.0), ("a", now - 12 * H, 2.0)]
    df = with_tenant(_mk_samples(spark, rows), "1:0").unionByName(
        with_tenant(_mk_samples(spark, rows), "2:0")
    )
    out = downsample(df, rules=[(10 * H, 4 * H)], now_ms=now)
    got = sorted(
        (r["tenant"], r["ts"]) for r in out.collect()
    )
    # one survivor per tenant in the shared 4h bucket — not one overall
    assert got == [("1:0", now - 11 * H), ("2:0", now - 11 * H)]


def test_maintain_full_lifecycle(spark):
    """ONE maintain call runs the whole lifecycle: expired day dropped
    (retention), fresh-append day tier-merged, fully-aged day physically
    downsampled, clean fresh day untouched."""
    import os

    from victoriametrics_spark.storage import (
        drop_samples_table,
        maintain_samples_table,
        read_samples_table,
    )

    now = T0 + 10 * DAY
    rows = (
        # day0: expired (retention 8d)
        [("a", T0 + h * H, 1.0) for h in range(24)]
        # day4: fully aged past 2d -> downsample to 1/h
        + [
            ("a", T0 + 4 * DAY + m * 60_000, 2.0)
            for m in range(0, 1440, 10)
        ]
        # day9: fresh, will get small appends
        + [("a", T0 + 9 * DAY + h * H, 3.0) for h in range(24)]
    )
    write_samples_table(_mk_samples(spark, rows), "t_life", n_buckets=2)
    base = _file_snapshot(spark, "t_life")
    try:
        for k in range(2):
            append_samples(
                _mk_samples(
                    spark, [("a", T0 + 9 * DAY + 60_000 + k * 1000, 9.0)]
                ),
                "t_life",
                n_buckets=2,
            )
        before = _file_snapshot(spark, "t_life")
        # a threshold just above the appends, below the day9 base file
        small = [p for p in before if p not in base]
        threshold = max(os.stat(p).st_size for p in small) + 1
        assert all(
            os.stat(p).st_size >= threshold
            for p in base
            if "date=2024-01-10" in p
        )
        out = maintain_samples_table(
            spark,
            "t_life",
            max_small_bytes=threshold,
            now_ms=now,
            retention_ms=8 * DAY,
            downsample_rules=[(2 * DAY, H)],
        )
        assert [p[-1] for p in out["dropped_partitions"]] == ["2024-01-01"]
        assert [p[-1] for p in out["downsampled_partitions"]] == [
            "2024-01-05"
        ]
        assert out["merged_files"] == len(small) >= 2
        t = read_samples_table(spark, "t_life")
        assert t.filter(F.col("ts") < T0 + DAY).count() == 0  # retention
        assert (
            t.filter(
                (F.col("ts") >= T0 + 4 * DAY)
                & (F.col("ts") < T0 + 5 * DAY)
            ).count()
            == 24  # downsampled to one per hour
        )
        assert (
            t.filter(F.col("ts") >= T0 + 9 * DAY).count() == 26
        )  # fresh day + the 2 appends, merged not thinned
    finally:
        drop_samples_table(spark, "t_life")


def test_snapshot_create_restore(spark):
    """Instant hardlink snapshots (Storage.MustCreateSnapshot analog,
    app/vmstorage/main.go:300-377): creation copies no data (hardlinks),
    the snapshot keeps serving the original rows through later
    delete+compact rewrites of the live table, and restore brings back
    the full table WITH its bucket spec and tombstone side-table."""
    import os

    from victoriametrics_spark.storage import (
        compact_samples_table,
        create_snapshot,
        delete_series,
        delete_snapshot,
        drop_samples_table,
        list_snapshots,
        read_samples_table,
        restore_snapshot,
    )
    from victoriametrics_spark.storage.layout import _table_num_buckets

    rows = [
        (s, T0 + i * H, float(i)) for s in ("a", "b") for i in range(48)
    ]
    write_samples_table(_mk_samples(spark, rows), "t_snap", n_buckets=2)
    try:
        name = create_snapshot(spark, "t_snap")
        assert list_snapshots(spark, "t_snap") == [name]
        # hardlinks, not copies: the live file now has 2 links
        some_file = spark.table("t_snap").inputFiles()[0]
        local = "/" + some_file[7:].lstrip("/") if some_file.startswith(
            "file://"
        ) else some_file
        assert os.stat(local).st_nlink >= 2
        # mutate the live table: delete a series + physically compact
        assert delete_series(spark, "t_snap", ['m{s="a"}']) == 1
        compact_samples_table(spark, "t_snap", n_buckets=2)
        assert (
            read_samples_table(spark, "t_snap")
            .filter(F.col("labels")["s"] == "a")
            .count()
            == 0
        )
        # restore into a fresh table: everything back, bucket spec kept
        restore_snapshot(spark, "t_snap", name, dest_table="t_snap_r")
        try:
            back = read_samples_table(spark, "t_snap_r")
            assert back.count() == 96
            assert (
                back.filter(F.col("labels")["s"] == "a").count() == 48
            )
            assert _table_num_buckets(spark, "t_snap_r") == 2
        finally:
            drop_samples_table(spark, "t_snap_r")
        delete_snapshot(spark, "t_snap", name)
        assert list_snapshots(spark, "t_snap") == []
    finally:
        drop_samples_table(spark, "t_snap")


def test_snapshot_carries_tombstones(spark):
    """A snapshot taken AFTER a delete but BEFORE compaction must carry
    the tombstone side-table: the restored table still hides the
    deleted series (VM snapshots cover the index incl. deleted
    metricIDs, not just data parts)."""
    from victoriametrics_spark.storage import (
        create_snapshot,
        delete_series,
        drop_samples_table,
        read_samples_table,
        restore_snapshot,
    )

    rows = [(s, T0 + i * H, 1.0) for s in ("a", "b") for i in range(8)]
    write_samples_table(_mk_samples(spark, rows), "t_snaptomb", n_buckets=2)
    try:
        assert delete_series(spark, "t_snaptomb", ['m{s="a"}']) == 1
        name = create_snapshot(spark, "t_snaptomb")
        restore_snapshot(spark, "t_snaptomb", name, dest_table="t_snaptomb_r")
        try:
            back = read_samples_table(spark, "t_snaptomb_r")
            assert back.filter(F.col("labels")["s"] == "a").count() == 0
            assert back.filter(F.col("labels")["s"] == "b").count() == 8
        finally:
            drop_samples_table(spark, "t_snaptomb_r")
    finally:
        drop_samples_table(spark, "t_snaptomb")


def test_logs_retention_partition_drops(spark):
    """VictoriaLogs retention is day-granular whole-partition deletion:
    fully-expired days dropped (metadata-only), surviving days
    byte-identical, LogsQL keeps working."""
    from datetime import datetime

    from victoriametrics_spark.storage import apply_logs_retention
    from victoriametrics_spark.storage.layout import (
        drop_samples_table,
        read_logs_table,
        write_logs_table,
    )

    rows = [
        (datetime(2024, 1, d, h), f"msg d={d}", "web", float(d))
        for d in range(1, 5)
        for h in range(0, 24, 6)
    ]
    df = spark.createDataFrame(rows, ["_time", "_msg", "app", "value"])
    write_logs_table(df, "t_logret", stream_fields=["app"], n_buckets=2)
    try:
        now = T0 + 10 * DAY  # 2024-01-11
        before = _file_snapshot(spark, "t_logret")
        dropped = apply_logs_retention(
            spark, "t_logret", now_ms=now, retention_ms=8 * DAY
        )
        # days 1-2 end <= now-8d (= Jan 3); day 3 survives whole
        assert [p[-1] for p in dropped] == ["2024-01-01", "2024-01-02"]
        after = _file_snapshot(spark, "t_logret")
        for p, m in before.items():
            if "date=2024-01-03" in p or "date=2024-01-04" in p:
                assert after.get(p) == m
        back = read_logs_table(spark, "t_logret")
        assert back.count() == 8
        assert (
            apply_logs_retention(
                spark, "t_logret", now_ms=now, retention_ms=8 * DAY
            )
            == []
        )
    finally:
        drop_samples_table(spark, "t_logret")


def test_metrics_metadata_store():
    """lib/storage/metricsmetadata analog: 64KiB field limits, sorted
    get with limit, tenant scoping + multitenant merge, LRU cap."""
    from victoriametrics_spark.storage.metadata import (
        MetricsMetadataStore,
        parse_text_metadata,
    )

    st = MetricsMetadataStore(max_items=3)
    st.add([
        {"metric_family_name": "b", "help": "hb", "type": 1},
        {"metric_family_name": "a", "help": "ha", "type": 2, "unit": "s"},
        {"metric_family_name": "big", "help": "x" * 70000, "type": 1},
        {"metric_family_name": "u", "unit": "y" * 70000, "type": 1},
        {"metric_family_name": "n" * 70000, "help": "h", "type": 1},
    ])
    rows = st.get()
    assert [r["metric_family_name"] for r in rows] == ["a", "b"]
    assert st.get(limit=1)[0]["metric_family_name"] == "a"
    resp = st.as_response()
    assert resp["data"]["a"] == [{"type": "gauge", "unit": "s", "help": "ha"}]
    assert "unit" not in resp["data"]["b"][0]

    # tenant scoping + multitenant merge
    st.add([{"metric_family_name": "t", "help": "t1", "type": 1}],
           tenant="1:1")
    assert st.get(tenant="1:1")[0]["metric_family_name"] == "t"
    assert [r["metric_family_name"] for r in st.get(tenant="multitenant")] \
        == ["a", "b", "t"]

    # LRU-by-last-write eviction past the cap
    st.add([{"metric_family_name": "c", "help": "hc", "type": 1}])
    st.add([{"metric_family_name": "a", "help": "ha2", "type": 2}])
    st.add([{"metric_family_name": "d", "help": "hd", "type": 1}])
    names = [r["metric_family_name"] for r in st.get(tenant="multitenant")]
    assert "b" not in names and "t" not in names  # oldest writes evicted
    assert set(names) == {"a", "c", "d"}

    # text parser: sequential HELP/TYPE merge, invalid TYPE discard,
    # escaped help
    mds = parse_text_metadata([
        "# HELP m1 first\\nline\\\\x",
        "# TYPE m1 counter",
        "# TYPE m2 bogus",
        "# HELP m3 h3",
        "# TYPE m3 stateset",
        "plain_line 1",
        "# EH not-metadata",
    ])
    assert mds == [
        {"metric_family_name": "m1", "help": "first\nline\\x", "unit": "",
         "type": 1},
        {"metric_family_name": "m3", "help": "h3", "unit": "", "type": 7},
    ]


def test_downsample_selector_scoped_rules(spark):
    """-downsampling.period=filter:offset:interval semantics: FIRST
    matching filter wins, unmatched series stay raw, 0s:0s excludes,
    and the flag-string parser round-trips the syntax."""
    from victoriametrics_spark.schema import SAMPLE_SCHEMA
    from victoriametrics_spark.storage.downsample import (
        downsample,
        parse_downsampling_periods,
    )

    H = 3_600_000
    now = 100 * H
    rows = []
    for s, env in (("a", "prod"), ("b", "dev"), ("c", None)):
        labels = {"s": s}
        if env:
            labels["env"] = env
        # three aged samples inside one 4h bucket
        for i, v in ((11, 1.0), (12, 2.0), (13, 3.0)):
            rows.append(("m", labels, now - i * H, v, False))
    df = spark.createDataFrame(rows, SAMPLE_SCHEMA)

    rules = parse_downsampling_periods(
        ['{env="prod"}:10h:100h', '{env=~"prod|dev"}:10h:1ms']
    )
    out = downsample(df, rules, now_ms=now).collect()
    by_s = {}
    for r in out:
        by_s.setdefault(r["labels"]["s"], []).append(r)
    # prod matched the FIRST filter (one big bucket -> 1 sample kept),
    # even though the second filter also matches
    assert len(by_s["a"]) == 1 and by_s["a"][0]["ts"] == now - 11 * H
    # dev matched only the second filter: 1ms interval keeps all 3
    assert len(by_s["b"]) == 3
    # no filter matched -> not downsampled
    assert len(by_s["c"]) == 3

    # 0s:0s exclusion idiom: prod exempt, match-all rule thins others
    rules2 = parse_downsampling_periods(['{env="prod"}:0s:0s', "10h:100h"])
    out2 = downsample(df, rules2, now_ms=now).collect()
    by_s2 = {}
    for r in out2:
        by_s2.setdefault(r["labels"]["s"], []).append(r)
    assert len(by_s2["a"]) == 3   # excluded
    assert len(by_s2["b"]) == 1 and len(by_s2["c"]) == 1


# ------------------------------------------------------------ write shape
# Every bucketed write exchanges its rows so that one task writes each
# bucket: the write stage runs min(n_buckets, default parallelism)
# tasks (4 tasks for 32 buckets on local[4]),
# and each write adds exactly one file per (partition, bucket) it
# touches.
def _run_shape(spark, fn):
    """(result, job ids, tasks of each stage that ran) of ``fn()``; the
    last stage is the write."""
    import uuid

    sc = spark.sparkContext
    group = f"storage-write-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "storage write shape", False)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    tasks = []
    for j in jobs:
        for sid in sorted(tracker.getJobInfo(j).stageIds):
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks:
                tasks.append(st.numTasks)
    return out, jobs, tasks


def _write_tasks(spark, n_buckets):
    return min(n_buckets, spark.sparkContext.defaultParallelism)


def _new_files_per_bucket(before, after):
    """Counter of (partition dir, bucket id) over the files in ``after``
    and not in ``before``."""
    import re
    from collections import Counter

    return Counter(
        (p.rsplit("/", 1)[0], re.search(r"_(\d{5})\.", p).group(1))
        for p in after
        if p not in before
    )


def _touched(df, n_buckets, key="__series_key", part_cols=("tenant", "date")):
    """Number of distinct (partition, bucket) pairs the rows of ``df``
    fall in."""
    bucket = F.pmod(F.hash(F.col(key)), F.lit(n_buckets))
    return df.select(*part_cols, bucket).distinct().count()


def _shape_samples(spark, seed=0):
    """2000 rows of 300 series over two days, tenant 1:0."""
    from victoriametrics_spark.api.http import with_tenant

    rows = [
        (f"s{(i + seed) % 300}", T0 + (i % 2) * DAY + i * 1000 + seed, float(i))
        for i in range(2000)
    ]
    return with_tenant(_mk_samples(spark, rows), "1:0")


def _table_rows(spark, table):
    """The table's rows as a multiset (labels maps made hashable)."""
    from collections import Counter

    return Counter(
        tuple(
            tuple(sorted(v.items())) if isinstance(v, dict) else v
            for v in r
        )
        for r in spark.table(table).collect()
    )


def test_bucketed_writes_one_task_per_core(spark):
    """write_samples_table and append_samples at n_buckets=32: the write
    stage runs one task per core (at most), and each write adds one file
    per touched (partition, bucket)."""
    from victoriametrics_spark.storage import drop_samples_table

    tasks32 = _write_tasks(spark, 32)
    drop_samples_table(spark, "t_shape")
    try:
        _, _, tasks = _run_shape(
            spark,
            lambda: write_samples_table(_shape_samples(spark), "t_shape", n_buckets=32),
        )
        assert tasks[-1] == tasks32 <= spark.sparkContext.defaultParallelism
        files = _file_snapshot(spark, "t_shape")
        per_bucket = _new_files_per_bucket({}, files)
        assert set(per_bucket.values()) == {1}
        assert len(per_bucket) == _touched(spark.table("t_shape"), 32)

        fresh = _shape_samples(spark, seed=7)
        _, _, tasks = _run_shape(spark, lambda: append_samples(fresh, "t_shape"))
        assert tasks[-1] == tasks32
        per_bucket = _new_files_per_bucket(files, _file_snapshot(spark, "t_shape"))
        assert set(per_bucket.values()) == {1}
        appended = spark.table("t_shape").filter(F.col("ts") % 1000 == 7)
        assert len(per_bucket) == _touched(appended, 32)
    finally:
        drop_samples_table(spark, "t_shape")


def test_bucketed_write_two_buckets_two_tasks(spark):
    """With n_buckets=2 the write stage runs 2 tasks, one per bucket: the
    plan of a host with at least as many cores as buckets."""
    from victoriametrics_spark.storage import drop_samples_table

    drop_samples_table(spark, "t_shape2")
    try:
        _, _, tasks = _run_shape(
            spark,
            lambda: write_samples_table(_shape_samples(spark), "t_shape2", n_buckets=2),
        )
        assert tasks[-1] == 2
        per_bucket = _new_files_per_bucket({}, _file_snapshot(spark, "t_shape2"))
        assert set(per_bucket.values()) == {1} and len(per_bucket) == 4
    finally:
        drop_samples_table(spark, "t_shape2")


def test_merge_small_parts_write_shape(spark):
    """merge_small_parts at n_buckets=32 on a 1:0-tenant table over two
    dates: the same row multiset after the merge, in at most 2 jobs (the
    scan and the write; no job listing the small files), one task per
    core in the write stage, and one merged file per (partition,
    bucket)."""
    from victoriametrics_spark.storage import drop_samples_table, merge_small_parts

    drop_samples_table(spark, "t_shape_merge")
    try:
        write_samples_table(_shape_samples(spark), "t_shape_merge", n_buckets=32)
        for seed in (3, 5):
            append_samples(_shape_samples(spark, seed=seed), "t_shape_merge")
        before_rows = _table_rows(spark, "t_shape_merge")
        # every file is small: each (partition, bucket) holding more than
        # one file is merged into one
        n, jobs, tasks = _run_shape(
            spark,
            lambda: merge_small_parts(
                spark, "t_shape_merge", max_small_bytes=1 << 30
            ),
        )
        assert n > 64
        assert len(jobs) <= 2, jobs
        # a parallel file listing runs one task per listed file
        assert max(tasks) < n, tasks
        assert tasks[-1] == _write_tasks(spark, 32)
        after = _file_snapshot(spark, "t_shape_merge")
        per_bucket = _new_files_per_bucket({}, after)
        assert set(per_bucket.values()) == {1}
        assert len(per_bucket) == _touched(spark.table("t_shape_merge"), 32)
        assert _table_rows(spark, "t_shape_merge") == before_rows
    finally:
        drop_samples_table(spark, "t_shape_merge")


def test_partition_scoped_compact_write_shape(spark):
    """A partition-scoped compact_samples_table at n_buckets=32 writes
    the rewritten partition with one task per core and one file per
    bucket, and leaves the other partition's files as they were."""
    from victoriametrics_spark.storage import drop_samples_table

    drop_samples_table(spark, "t_shape_compact")
    try:
        write_samples_table(_shape_samples(spark), "t_shape_compact", n_buckets=32)
        append_samples(_shape_samples(spark, seed=3), "t_shape_compact")
        before = _file_snapshot(spark, "t_shape_compact")
        _, _, tasks = _run_shape(
            spark,
            lambda: compact_samples_table(
                spark, "t_shape_compact", n_buckets=32, dates=["2024-01-01"]
            ),
        )
        assert tasks[-1] == _write_tasks(spark, 32)
        after = _file_snapshot(spark, "t_shape_compact")
        day2 = {p: m for p, m in before.items() if "date=2024-01-02" in p}
        assert {p: m for p, m in after.items() if "date=2024-01-02" in p} == day2
        per_bucket = _new_files_per_bucket(before, after)
        assert set(per_bucket.values()) == {1}
        assert len(per_bucket) == _touched(
            spark.table("t_shape_compact").filter(F.col("date") == "2024-01-01"),
            32,
        )
        assert {p for p in after if "date=2024-01-01" in p} == {
            p for p in after if p not in before
        }
    finally:
        drop_samples_table(spark, "t_shape_compact")


def test_full_compact_write_shape(spark):
    """A full compact_samples_table at n_buckets=32 over a table of many
    small files rewrites it with one task per core in the write stage
    and exactly one file per (partition, bucket), keeping every row."""
    from victoriametrics_spark.storage import drop_samples_table

    drop_samples_table(spark, "t_shape_full")
    try:
        write_samples_table(_shape_samples(spark), "t_shape_full", n_buckets=32)
        for seed in (3, 5, 7):
            append_samples(_shape_samples(spark, seed=seed), "t_shape_full")
        before_rows = _table_rows(spark, "t_shape_full")
        _, _, tasks = _run_shape(
            spark,
            lambda: compact_samples_table(
                spark, "t_shape_full", n_buckets=32, full=True
            ),
        )
        assert tasks[-1] == _write_tasks(spark, 32)
        per_bucket = _new_files_per_bucket({}, _file_snapshot(spark, "t_shape_full"))
        assert set(per_bucket.values()) == {1}
        assert len(per_bucket) == _touched(spark.table("t_shape_full"), 32)
        assert _table_rows(spark, "t_shape_full") == before_rows
    finally:
        drop_samples_table(spark, "t_shape_full")


def test_write_logs_table_write_shape(spark):
    """write_logs_table at n_buckets=32: one task per core in the write
    stage, one file per (date, stream bucket)."""
    from datetime import datetime

    from victoriametrics_spark.storage.layout import (
        drop_samples_table,
        write_logs_table,
    )

    rows = [
        (datetime(2024, 1, 1 + i % 2, i % 24), f"msg {i}", f"app{i % 50}")
        for i in range(2000)
    ]
    logs = spark.createDataFrame(rows, ["_time", "_msg", "app"])
    drop_samples_table(spark, "t_shape_logs")
    try:
        _, _, tasks = _run_shape(
            spark,
            lambda: write_logs_table(
                logs, "t_shape_logs", stream_fields=["app"], n_buckets=32
            ),
        )
        assert tasks[-1] == _write_tasks(spark, 32)
        per_bucket = _new_files_per_bucket({}, _file_snapshot(spark, "t_shape_logs"))
        assert set(per_bucket.values()) == {1}
        assert len(per_bucket) == _touched(
            spark.table("t_shape_logs"), 32, key="_stream", part_cols=("date",)
        )
    finally:
        drop_samples_table(spark, "t_shape_logs")


# ------------------------------------------------------ default buckets
# A table created without ``n_buckets`` gets min(32, shuffle partitions)
# buckets; appends and compactions keep whatever count the table has.
# Each test sets the shuffle partitions itself, so none depends on the
# host's core count.
@contextlib.contextmanager
def _shuffle_partitions(spark, n):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_default_buckets_follow_shuffle_partitions(spark):
    """Under 3 shuffle partitions a default write makes 3 buckets, one
    file per (date, bucket), and a rate query scans them in 3
    partitions with no exchange; under 64 it makes 32 buckets."""
    from victoriametrics_spark.storage import drop_samples_table
    from victoriametrics_spark.storage.layout import (
        _table_num_buckets,
        default_buckets,
    )

    rows = [
        (f"s{i}", T0 + d * DAY + h * H, float(d * 24 + h))
        for i in range(12)
        for d in range(2)
        for h in range(0, 24, 3)
    ]
    try:
        with _shuffle_partitions(spark, 3):
            assert default_buckets(spark) == 3
            write_samples_table(_mk_samples(spark, rows), "t_defb")
            for name in ("t_defb", "default.t_defb", "`default`.`t_defb`"):
                assert _table_num_buckets(spark, name) == 3
            per_bucket = _new_files_per_bucket({}, _file_snapshot(spark, "t_defb"))
            assert set(per_bucket.values()) == {1}
            assert len(per_bucket) == _touched(
                spark.table("t_defb"), 3, part_cols=("date",)
            )
            cfg = EvalConfig(start=T0 + 6 * H, end=T0 + 2 * DAY - H, step=6 * H)
            df = evaluate(
                spark,
                "rate(m[1d])",
                read_samples_table(
                    spark, "t_defb", cfg.start, cfg.end, lookback_ms=DAY
                ),
                cfg,
            )
            assert "Exchange" not in _physical_plan(df)
            assert df.rdd.getNumPartitions() == 3
            assert df.count() > 0
        with _shuffle_partitions(spark, 64):
            assert default_buckets(spark) == 32
            write_samples_table(_mk_samples(spark, rows), "t_defb")
            assert _table_num_buckets(spark, "t_defb") == 32
    finally:
        drop_samples_table(spark, "t_defb")
    assert _table_num_buckets(spark, "t_defb") is None


def test_logs_append_keeps_bucket_count(spark):
    """An append with the default count into a 2-bucket logs table keeps
    its 2 buckets (Spark rejects an append with another bucket spec) and
    adds every row."""
    from collections import Counter
    from datetime import datetime

    from victoriametrics_spark.storage.layout import (
        _table_num_buckets,
        drop_samples_table,
        write_logs_table,
    )

    rows = [
        (datetime(2024, 1, 1 + i % 2, i % 24), f"msg {i}", f"app{i % 5}")
        for i in range(40)
    ]
    logs = spark.createDataFrame(rows, ["_time", "_msg", "app"])
    drop_samples_table(spark, "t_logs_keepb")
    try:
        write_logs_table(logs, "t_logs_keepb", stream_fields=["app"], n_buckets=2)
        once = _table_rows(spark, "t_logs_keepb")
        with _shuffle_partitions(spark, 3):
            write_logs_table(
                logs, "t_logs_keepb", stream_fields=["app"], mode="append"
            )
        assert _table_num_buckets(spark, "t_logs_keepb") == 2
        assert _table_rows(spark, "t_logs_keepb") == Counter(
            {r: 2 * n for r, n in once.items()}
        )
    finally:
        drop_samples_table(spark, "t_logs_keepb")


def test_default_compact_keeps_bucket_count(spark):
    """A default compact_samples_table of a 2-bucket table, under a
    session whose default would be 3, keeps 2 buckets and stays
    partition-scoped: after an append to one day, every other day's
    files are left byte-identical."""
    import hashlib

    from victoriametrics_spark.storage import drop_samples_table
    from victoriametrics_spark.storage.layout import _table_num_buckets

    def contents(paths):
        out = {}
        for p in paths:
            with open(p, "rb") as f:
                out[p] = hashlib.sha256(f.read()).hexdigest()
        return out

    rows = [
        (s, T0 + d * DAY + h * H, float(d * 24 + h))
        for s in ("a", "b", "c")
        for d in range(3)
        for h in range(24)
    ]
    write_samples_table(_mk_samples(spark, rows), "t_keepb", n_buckets=2)
    try:
        with _shuffle_partitions(spark, 3):
            late = [("a", T0 + DAY + h * H + 1, 999.0) for h in range(4)]
            append_samples(_mk_samples(spark, late), "t_keepb")
            before = _file_snapshot(spark, "t_keepb")
            untouched = {p for p in before if "date=2024-01-02" not in p}
            assert untouched
            bytes_before = contents(untouched)
            compact_samples_table(spark, "t_keepb")
            after = _file_snapshot(spark, "t_keepb")
        assert _table_num_buckets(spark, "t_keepb") == 2
        assert {p: after.get(p) for p in untouched} == {
            p: before[p] for p in untouched
        }
        assert contents(untouched) == bytes_before
        per_bucket = _new_files_per_bucket(before, after)
        assert set(per_bucket.values()) == {1}
        assert {p for p in after if p not in before} == {
            p for p in after if "date=2024-01-02" in p
        }
        assert read_samples_table(spark, "t_keepb").count() == len(rows) + 4
    finally:
        drop_samples_table(spark, "t_keepb")


def test_500_partition_rewrites_keep_rows(spark):
    """Retention and compaction over 500 date partitions at once: the
    partition predicate is one expression, so it neither overflows the
    JVM stack nor changes which rows survive."""
    from victoriametrics_spark.storage import apply_retention, drop_samples_table

    days = 500
    rows = [(s, T0 + d * DAY, float(d)) for s in ("a", "b") for d in range(days)]
    write_samples_table(_mk_samples(spark, rows), "t_p500", n_buckets=1)
    try:
        late = [("b", T0 + d * DAY + H, -1.0) for d in range(days)]
        append_samples(_mk_samples(spark, late), "t_p500", n_buckets=1)
        before = _table_rows(spark, "t_p500")
        compact_samples_table(spark, "t_p500", n_buckets=1)
        assert _table_rows(spark, "t_p500") == before
        assert len(_file_snapshot(spark, "t_p500")) == days

        out = apply_retention(
            spark,
            "t_p500",
            now_ms=T0 + (days + 1) * DAY,
            retention_ms=10 * days * DAY,
            retention_filters=[('m{s="a"}', DAY)],
        )
        assert len(out["rewritten_partitions"]) == days
        t = read_samples_table(spark, "t_p500")
        got = sorted(
            (r["labels"]["s"], r["ts"], r["value"])
            for r in t.select("labels", "ts", "value").collect()
        )
        assert got == sorted((s, ts, v) for s, ts, v in rows + late if s == "b")
    finally:
        drop_samples_table(spark, "t_p500")


def _column_chunks(paths):
    """[(file, column, physical type, compression, encodings)] for every
    column chunk of every row group, read from the parquet footers."""
    import pyarrow.parquet as pq

    out = []
    for p in paths:
        md = pq.ParquetFile(p).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                out.append(
                    (
                        p,
                        col.path_in_schema,
                        col.physical_type,
                        col.compression,
                        set(col.encodings),
                    )
                )
    return out


def _assert_at_rest(paths, has_ts=True):
    """Every column chunk of ``paths`` is ZSTD; with ``has_ts``, every
    file has ``ts`` chunks and all of them are DELTA_BINARY_PACKED and
    carry min/max. Series keys, labels, values and stale flags carry
    no statistics."""
    import pyarrow.parquet as pq

    chunks = _column_chunks(paths)
    assert chunks
    assert {c[3] for c in chunks} == {"ZSTD"}
    ts_chunks = [c for c in chunks if c[1] == "ts"]
    assert len(ts_chunks) >= (len(paths) if has_ts else 0)
    assert all(c[4] == {"DELTA_BINARY_PACKED"} for c in ts_chunks), ts_chunks
    no_stats = {
        "__series_key",
        "labels.key_value.key",
        "labels.key_value.value",
        "value",
        "is_stale",
    }
    for p in paths:
        rg = pq.ParquetFile(p).metadata.row_group(0)
        stats = {
            rg.column(c).path_in_schema: rg.column(c).is_stats_set
            for c in range(rg.num_columns)
        }
        assert not any(stats.get(c) for c in no_stats), (p, stats)
        if has_ts:
            assert stats["ts"], (p, stats)


def test_at_rest_encoding_through_table_lifecycle(spark):
    """Every file a samples table gets (bulk write, append, small-part
    merge, partition compaction) is zstd with a DELTA_BINARY_PACKED
    ``ts``: the encoding is stored with the table, not passed per write.
    Rows read back as written."""
    from collections import Counter

    from victoriametrics_spark.storage import (
        drop_samples_table,
        merge_small_parts,
    )

    def rows_of(table):
        return Counter(
            (r["labels"]["s"], r["ts"], r["value"])
            for r in spark.table(table).select("labels", "ts", "value").collect()
        )

    base = [(f"s{i % 7}", T0 + (i % 2) * DAY + i * 1000, float(i)) for i in range(600)]
    late = [
        [(f"s{i % 7}", T0 + DAY + 5 * H + k * 60_000 + i, -1.0) for i in range(20)]
        for k in range(3)
    ]
    table = "t_at_rest"
    write_samples_table(_mk_samples(spark, base), table, n_buckets=2)
    try:
        _assert_at_rest(_file_snapshot(spark, table))
        for chunk in late[:2]:
            append_samples(_mk_samples(spark, chunk), table)
        _assert_at_rest(_file_snapshot(spark, table))
        assert merge_small_parts(spark, table, max_small_bytes=1 << 30) > 0
        _assert_at_rest(_file_snapshot(spark, table))
        append_samples(_mk_samples(spark, late[2]), table)
        before = _file_snapshot(spark, table)
        compact_samples_table(spark, table, n_buckets=2)
        after = _file_snapshot(spark, table)
        assert set(after) != set(before)
        _assert_at_rest(after)
        expected = Counter(base + [r for chunk in late for r in chunk])
        assert rows_of(table) == expected
    finally:
        drop_samples_table(spark, table)


def test_at_rest_encoding_logs_and_versioned_store(spark, tmp_path):
    """The logs table and a VersionedStore entry use the same at-rest
    options: every logs column is zstd (the logs table has no ``ts``, so
    its ``_time`` keeps its dictionary), and a store entry's ``ts`` is
    DELTA_BINARY_PACKED."""
    import glob
    from datetime import datetime

    from victoriametrics_spark.engine.cache import VersionedStore
    from victoriametrics_spark.storage.layout import (
        drop_samples_table,
        write_logs_table,
    )

    rows = [
        (datetime(2024, 1, 1 + i % 2, i % 24, i % 60), f"msg {i}", f"app{i % 5}")
        for i in range(300)
    ]
    logs = spark.createDataFrame(rows, ["_time", "_msg", "app"])
    drop_samples_table(spark, "t_at_rest_logs")
    try:
        write_logs_table(logs, "t_at_rest_logs", stream_fields=["app"], n_buckets=2)
        _assert_at_rest(_file_snapshot(spark, "t_at_rest_logs"), has_ts=False)
        back = spark.table("t_at_rest_logs").select("_time", "_msg", "app")
        assert sorted(map(tuple, back.collect())) == sorted(rows)
    finally:
        drop_samples_table(spark, "t_at_rest_logs")

    store = VersionedStore(spark, str(tmp_path / "store"))
    entry = [("m", {"s": "a"}, T0 + i * 15_000, float(i)) for i in range(200)]
    df = spark.createDataFrame(
        entry, "name string, labels map<string,string>, ts long, value double"
    )
    got = store.put("k", df, {})
    assert store.get("k")["version"] == 0
    _assert_at_rest(glob.glob(str(tmp_path / "store" / "k.v0.parquet" / "*.parquet")))
    assert sorted(map(tuple, got.collect())) == sorted(entry)


def test_table_created_before_at_rest_options_keeps_working(spark, monkeypatch):
    """A table created by the old writer (no options: Spark's snappy
    default) keeps its encoding: appends and small-part merges into it
    write the table's stored options, not the current ones, and every
    row reads back. A full rewrite creates the table anew in the at-rest
    format."""
    from collections import Counter

    from victoriametrics_spark.storage import (
        drop_samples_table,
        merge_small_parts,
    )
    from victoriametrics_spark.storage import layout

    base = [(f"s{i % 5}", T0 + i * 1000, float(i)) for i in range(300)]
    late = [
        [(f"s{i % 5}", T0 + 3 * H + k * 60_000 + i, -1.0) for i in range(10)]
        for k in range(2)
    ]
    table = "t_old_format"
    with monkeypatch.context() as m:
        m.setattr(layout, "AT_REST_OPTIONS", {})
        write_samples_table(_mk_samples(spark, base), table, n_buckets=2)
    try:
        assert "zstd" not in spark.sql(f"SHOW CREATE TABLE {table}").first()[0]
        for chunk in late:
            append_samples(_mk_samples(spark, chunk), table)
        assert merge_small_parts(spark, table, max_small_bytes=1 << 30) > 0
        chunks = _column_chunks(_file_snapshot(spark, table))
        assert {c[3] for c in chunks} == {"SNAPPY"}
        expected = Counter(base + late[0] + late[1])
        got = Counter(
            (r["labels"]["s"], r["ts"], r["value"])
            for r in read_samples_table(spark, table).collect()
        )
        assert got == expected
        compact_samples_table(spark, table, n_buckets=2, full=True)
        _assert_at_rest(_file_snapshot(spark, table))
    finally:
        drop_samples_table(spark, table)
