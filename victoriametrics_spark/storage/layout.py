"""Partitioned + bucketed sample storage — the 100 TB layout.

The reference's storage engine keeps monthly LSM partitions
(lib/storage/partition.go:98) plus a per-day inverted index
(lib/storage/index_db.go:2713) so queries touch only the partitions in
range and stream each series' blocks in timestamp order. On Spark the
layout itself replaces both structures:

- ``date`` partition directories  → time-range (partition) pruning, the
  per-day index analog;
- ``bucketBy(N, __series_key)``   → every executor owns whole series, so
  the per-series lag window (``needs_prev`` in engine/grid.py) and the
  (series, grid-index) hash aggregation both run with **zero Exchange**
  — the bucketed scan already reports the HashPartitioning the plan
  requires. This removes the full sort-shuffle every rate-family query
  otherwise pays on the raw scan;
- ``sortBy(__series_key, ts)``    → in-file timestamp order, so the
  window sort is a cheap local merge, mirroring VM streaming each
  series' blocks in ts order (lib/storage/partition_search.go).

Each bucket is written by exactly one task, with at most one task per
core (:func:`_by_bucket`), so a write adds one file per (partition,
bucket).

A new table gets :func:`default_buckets` buckets unless the caller
names a count: the session's shuffle parallelism, capped at 32. On a
local session that is one bucket per core, so a bucketed read is one
wave of tasks and each write task writes one bucket file; a cluster
session under Spark's default of 200 shuffle partitions gets 32. The
count is fixed when the table is created: appends, merges, compactions
and partition rewrites keep it.

Compaction (the LSM merge analog, lib/storage/merge.go) rewrites a table
back to one file per (date, bucket), optionally applying last-wins
dedup exactly like VM dedups during part merges (lib/storage/dedup.go).

At rest (:data:`AT_REST_OPTIONS`, the lib/encoding analog): VM picks a
per-block encoding by series shape (const, delta-const, nearest-delta)
and zstd-compresses the block. Here each table is created with zstd
pages, v2 data pages and no dictionary on ``ts``, so the samples' long
timestamps are stored DELTA_BINARY_PACKED. Column statistics are kept
only where a pushed-down filter can use them. ``saveAsTable``
keeps these as the table's ``OPTIONS``, so every later append, merge
and partition rewrite into the table writes the same encoding, whatever
session writes it.
"""

from __future__ import annotations

import re
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from victoriametrics_spark.schema import series_key


def default_buckets(spark: SparkSession) -> int:
    """Bucket count of a new samples or logs table:
    ``min(32, spark.sql.shuffle.partitions)``. Shuffle partitions rather
    than executor cores: the setting stays put under dynamic allocation,
    and every other exchange of the engine already fans out to it.
    :func:`~victoriametrics_spark.session.get_spark` sets it to the core
    count on a local session only; a cluster session keeps
    spark-submit's value, 200 by default."""
    return min(32, int(spark.conf.get("spark.sql.shuffle.partitions")))


# Columns written without min/max statistics. No filter on them reaches
# the Parquet reader: a map column cannot be pushed down, the engine
# filters ``is_stale`` through ``coalesce`` and selects by name and time,
# never by series key or sample value. Their min/max sat in the footer,
# in every page header and in the page index; that is about a tenth of a
# small bucket file (164 690 -> 148 410 bytes for a 32-bucket table of
# 18 400 samples).
_NO_STATS_COLUMNS = (
    "__series_key",
    "labels.key_value.key",
    "labels.key_value.value",
    "value",
    "is_stale",
)

# Parquet writer options of every table and store this package owns:
# zstd pages, v2 data pages, ``ts`` without a dictionary, so it is
# DELTA_BINARY_PACKED (tables without a ``ts`` column keep every
# dictionary), and no statistics on ``_NO_STATS_COLUMNS``.
AT_REST_OPTIONS = {
    "compression": "zstd",
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#ts": "false",
    **{f"parquet.column.statistics.enabled#{c}": "false" for c in _NO_STATS_COLUMNS},
}


def parse_tenant(token: str) -> str:
    """``accountID`` or ``accountID:projectID`` from the URL path
    (/select/<token>/prometheus/..., lib/auth.NewToken) → canonical
    ``"account:project"`` with project defaulting to 0."""
    parts = token.split(":")
    if len(parts) not in (1, 2):
        raise ValueError(f"invalid tenant token {token!r}")
    try:
        account = int(parts[0])
        project = int(parts[1]) if len(parts) == 2 else 0
    except ValueError:
        raise ValueError(f"invalid tenant token {token!r}") from None
    if account < 0 or project < 0:
        raise ValueError(f"invalid tenant token {token!r}")
    return f"{account}:{project}"


def _with_layout_columns(samples: DataFrame) -> DataFrame:
    df = samples
    if "__series_key" not in df.columns:
        df = df.withColumn(
            "__series_key", series_key(F.col("name"), F.col("labels"))
        )
    return df.withColumn(
        "date", F.to_date(F.timestamp_millis(F.col("ts")))
    )


def drop_samples_table(spark: SparkSession, table: str) -> None:
    """Drop the catalog entry AND the warehouse dir (the in-memory
    catalog forgets tables across sessions while dirs persist); any
    tombstone side-table goes with it."""
    names = [table]
    if not table.endswith("__tombstones"):
        names.append(f"{table}__tombstones")
    jsc = spark.sparkContext._jsc
    jvm = spark.sparkContext._jvm
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        path = jvm.org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"), name.lower()
        )
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)


def write_samples_table(
    samples: DataFrame,
    table: str,
    n_buckets: "int | None" = None,
    mode: str = "overwrite",
    dedup_interval_ms: int = 0,
) -> None:
    """Write canonical samples as a date-partitioned, series-bucketed,
    ts-sorted parquet table.

    Each bucket is written by exactly one task, so each (date, bucket)
    pair lands in one file — the compacted invariant. A new table gets
    ``n_buckets`` buckets, or :func:`default_buckets` when it is None;
    an append into an existing table keeps the table's count.
    ``dedup_interval_ms`` applies last-wins dedup during the write, the
    VM merge-time dedup analog (lib/storage/dedup.go:29-60).

    Multi-tenancy (lib/storage/search.go:327 ``(AccountID, ProjectID)``):
    when the frame carries a ``tenant`` column it becomes the LEADING
    partition directory (tenant=<id>/date=<d>/...), so a tenant-scoped
    query never lists another tenant's files — VM's per-tenant index
    isolation as partition pruning.
    """
    df = samples
    spark = df.sparkSession
    if mode == "overwrite":
        # idempotent overwrite (a Hive/Glue metastore wouldn't need this)
        drop_samples_table(spark, table)
    if dedup_interval_ms > 0:
        from victoriametrics_spark.streaming.streamaggr import dedup_samples

        df = dedup_samples(df, dedup_interval_ms)
    df = _with_layout_columns(df)
    part_cols = (
        ["tenant", "date"] if "tenant" in df.columns else ["date"]
    )
    _save_bucketed(df, table, part_cols, "__series_key", "ts", n_buckets, mode)


def _by_bucket(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    """``df`` exchanged so that one task holds each bucket of
    ``bucketBy(n_buckets, key)``: the partition id is the bucket id taken
    modulo ``tasks = min(n_buckets, default parallelism)``, so bucket
    ``b`` lands in task ``b mod tasks``. With :func:`default_buckets`
    on a local session that is task ``b``, one bucket file per task; a
    table with more buckets than cores puts several in one task (32
    buckets on 4 cores: 4 tasks of 8). Unlike a hash repartition
    on the key, this exchange is never dropped as redundant with a
    bucketed scan's partitioning."""
    tasks = min(n_buckets, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartitionById(tasks, F.pmod(F.hash(F.col(key)), F.lit(n_buckets)))


def _save_bucketed(
    df: DataFrame, table: str, part_cols: list[str], key: str, sort_col: str,
    n_buckets: "int | None", mode: str,
) -> None:
    """``saveAsTable`` partitioned by ``part_cols``, bucketed by ``key``
    and sorted by (``key``, ``sort_col``), each bucket written by one
    task: one file per (partition, bucket). A new table stores
    :data:`AT_REST_OPTIONS` as its ``OPTIONS`` and gets ``n_buckets``
    buckets (:func:`default_buckets` when None); an append keeps the
    existing table's options and bucket count (Spark rejects an append
    with another bucket spec)."""
    spark = df.sparkSession
    cur = _table_num_buckets(spark, table) if mode == "append" else None
    if cur is not None:
        n_buckets = cur
    elif n_buckets is None:
        n_buckets = default_buckets(spark)
    (
        _by_bucket(df, key, n_buckets)
        .write.mode(mode)
        .format("parquet")
        .options(**AT_REST_OPTIONS)
        .partitionBy(*part_cols)
        .bucketBy(n_buckets, key)
        .sortBy(key, sort_col)
        .saveAsTable(table)
    )


def append_samples(
    samples: DataFrame, table: str, n_buckets: "int | None" = None
) -> None:
    """Ingest-path append (the in-memory-part flush analog,
    lib/storage/partition.go:42). Adopts the EXISTING table's bucket
    spec (Spark rejects appends with a mismatched one); ``n_buckets``
    only applies when the table doesn't exist yet, and None then means
    :func:`default_buckets`. Appends create extra
    files per bucket; run :func:`compact_samples_table` periodically to
    restore the one-file-per-(date, bucket) invariant.

    A table's Parquet encoding is fixed when the table is created: an
    append writes with the table's stored ``OPTIONS``, so a table
    created by a writer that passed no options keeps Spark's session
    defaults (snappy, dictionary ``ts``) for its appends and merges
    until a full rewrite (``compact_samples_table(full=True)``) creates
    it anew with :data:`AT_REST_OPTIONS`."""
    write_samples_table(samples, table, n_buckets=n_buckets, mode="append")


def read_samples_table(
    spark: SparkSession,
    table: str,
    start_ms: int | None = None,
    end_ms: int | None = None,
    lookback_ms: int = 0,
    tenant: str | None = None,
) -> DataFrame:
    """Scan builder: partition-pruned, bucket-aware samples scan.

    The ``date`` filters prune partition directories (the time-range
    index); ``lookback_ms`` widens the range backwards for rollup
    windows + the staleness lookback, exactly how VM extends
    SearchQuery.MinTimestamp (eval.go:1803 window+maxSilenceInterval).
    The returned frame keeps the physical ``__series_key`` so downstream
    windows/aggregations inherit the bucket partitioning.

    Pruning is DATE-granular only, on purpose: row-level ts filters here
    would drop the boundary sample just before the window start that the
    per-series ``lag()`` (prev_value, rollup.go:780-805) and ``lead()``
    (next_value) stages still need — those stages run before the
    engine's own exact range prune (engine/grid.py). Day granularity
    bounds the prev/next lookback the same way VM's extended search
    range does (eval.go:1803).
    """
    df = _apply_tombstones(spark, spark.table(table), table)
    if "tenant" in df.columns:
        if tenant is None:
            # VM has no cross-tenant search: every SearchQuery carries an
            # (AccountID, ProjectID) (lib/storage/search.go:327-337) —
            # and series keys don't embed the tenant, so an unscoped scan
            # would silently merge different tenants' series
            raise ValueError(
                f"table {table!r} is multi-tenant; pass tenant='a:p'"
            )
        # partition-directory pruning — the scan never lists another
        # tenant's files (VM: per-(AccountID, ProjectID) index isolation).
        # Canonicalize first: tenant="1" must match the stored "1:0"
        # partition value (and malformed tokens must error, not silently
        # return an empty scan).
        df = df.filter(F.col("tenant") == parse_tenant(tenant))
    if start_ms is not None:
        df = df.filter(
            F.col("date")
            >= F.to_date(F.timestamp_millis(F.lit(start_ms - lookback_ms)))
        )
    if end_ms is not None:
        df = df.filter(
            F.col("date") <= F.to_date(F.timestamp_millis(F.lit(end_ms)))
        )
    return df.drop("date", "tenant")


def _tombstone_table(table: str) -> str:
    return f"{table}__tombstones"


def _grouped_tombstones(
    spark: SparkSession, df: DataFrame, table: str
) -> "tuple[DataFrame, list[str]] | tuple[None, None]":
    """(max-deleted_at tombstones, join columns) for ``df``, or (None,
    None) when the table has no tombstones. Tombstones are PER-TENANT
    (VM's deleted-metricIDs live in the per-(AccountID, ProjectID)
    IndexDB): a delete issued for tenant 1:0 must never hide — or let
    compaction drop — an identically-named series of another tenant, so
    the join keys on (tenant, __series_key) whenever both sides carry
    the tenant."""
    tomb_tbl = _tombstone_table(table)
    if not spark.catalog.tableExists(tomb_tbl):
        return None, None
    tomb = spark.table(tomb_tbl)
    join_cols = (
        ["tenant", "__series_key"]
        if "tenant" in tomb.columns and "tenant" in df.columns
        else ["__series_key"]
    )
    grouped = tomb.groupBy(*join_cols).agg(
        F.max("deleted_at").alias("__del_at")
    )
    return grouped, join_cols


def _apply_tombstones(spark: SparkSession, df: DataFrame, table: str) -> DataFrame:
    """Filter out tombstoned series rows (deleted-metricIDs analog,
    lib/storage/index_db.go): a row is dead when its (tenant, series
    key) is tombstoned AND its parquet file predates the tombstone — so
    samples re-ingested AFTER a delete are visible again, exactly like
    VM where re-ingestion registers a fresh metricID. The tombstone
    side-table is tiny (one row per deleted series) and broadcast; the
    scan shape / partition pruning are untouched."""
    tomb, join_cols = _grouped_tombstones(spark, df, table)
    if tomb is None:
        return df
    file_ms = F.unix_millis(F.col("_metadata.file_modification_time"))
    df = df.withColumn("__file_ms", file_ms)
    df = df.join(F.broadcast(tomb), join_cols, "left")
    return df.filter(
        F.col("__del_at").isNull() | (F.col("__file_ms") > F.col("__del_at"))
    ).drop("__del_at", "__file_ms")


def delete_series(
    spark: SparkSession,
    table: str,
    matches: list[str],
    tenant: str | None = None,
) -> int:
    """/api/v1/admin/tsdb/delete_series engine work: tombstone every
    series matching any of the ``matches`` selectors (VM: the
    deleted-metricIDs set, lib/storage/index_db.go). The tombstone
    carries the max file-modification time of the CURRENT table files,
    so data present at delete time disappears while later appends for
    the same series are served again. Tombstones are applied by
    :func:`read_samples_table` and compacted away (rows physically
    dropped, side-table cleared) by :func:`compact_samples_table`.
    Returns the number of series tombstoned."""
    from victoriametrics_spark.engine.planner import selector_predicate
    from victoriametrics_spark.metricsql import parse
    from victoriametrics_spark.metricsql.ast import MetricExpr

    preds = []
    for m in matches:
        e = parse(m)
        if not isinstance(e, MetricExpr):
            raise ValueError(f"delete_series: {m!r} is not a series selector")
        preds.append(selector_predicate(e))
    pred = preds[0]
    for p in preds[1:]:
        pred = pred | p
    scan = spark.table(table)
    multi_tenant = "tenant" in scan.columns
    if multi_tenant:
        if tenant is None:
            raise ValueError(
                f"table {table!r} is multi-tenant; pass tenant='a:p'"
            )
        scan = scan.filter(F.col("tenant") == parse_tenant(tenant))
    # deletion watermark = newest existing file: appended files sort
    # strictly after it (same-millisecond append races resolve as
    # deleted, like a write racing VM's delete)
    row = scan.select(
        F.max(F.unix_millis(F.col("_metadata.file_modification_time")))
    ).first()
    deleted_at = row[0] or 0
    # tombstones carry their tenant (per-tenant deleted-metricIDs, like
    # VM's per-(AccountID, ProjectID) IndexDB); "" for single-tenant
    # tables
    tenant_val = parse_tenant(tenant) if multi_tenant else ""
    keys = (
        _apply_tombstones(spark, scan, table)
        .filter(pred)
        .select("__series_key")
        .distinct()
        .withColumn("tenant", F.lit(tenant_val))
        .withColumn("deleted_at", F.lit(deleted_at).cast("long"))
    )
    n = keys.count()
    if n:
        keys.write.mode("append").format("parquet").saveAsTable(
            _tombstone_table(table)
        )
        spark.catalog.refreshTable(_tombstone_table(table))
    return n


def _table_num_buckets(spark: SparkSession, table: str) -> int | None:
    """The bucket count in ``table``'s catalog entry; None when no such
    table exists or it is not bucketed. Read from the session catalog's
    metadata; the SQL parser resolves a db-qualified or quoted name."""
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(table)
    catalog = state.catalog()
    if not catalog.tableExists(ident):
        return None
    spec = catalog.getTableMetadata(ident).bucketSpec()
    return spec.get().numBuckets() if spec.isDefined() else None


_BUCKET_FILE_RE = re.compile(r"_(\d{5})\.")

# inputFiles() writes a URI with an empty authority as "file:///x", the
# _metadata.file_path column as "file:/x" (both percent-escaped alike):
# _file_key and _FILE_KEY_SQL bring either form to "file:/x".
_EMPTY_AUTHORITY = "^([A-Za-z][A-Za-z0-9+.-]*):///"
_FILE_KEY_SQL = f"regexp_replace(_metadata.file_path, '{_EMPTY_AUTHORITY}', '$1:/')"


def _file_key(uri: str) -> str:
    """The matching form of a data-file URI (see ``_EMPTY_AUTHORITY``)."""
    return re.sub(_EMPTY_AUTHORITY, r"\1:/", uri)


def _plain_uri(uri: str) -> str:
    """URI → the literal filesystem path form (one decode layer):
    Hadoop ``Path``/``os.stat`` want the on-disk name (``1%3A0``), not
    the re-encoded URI (``1%253A0``)."""
    return unquote(uri)


def _decode_part_uri(uri: str, part_cols: list[str]) -> tuple:
    """Decode one inputFiles() URI into (partition-value tuple, bucket).

    The single home of the two-layer escaping rules (URI %-escapes over
    Hive partition-dir escapes — regression-tested on "1:0"-style
    tenants) so every file-listing consumer agrees on partition
    identity."""
    segs = uri.split("/")
    vals = {}
    for seg in segs[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            if k in part_cols:
                # value 1:0 → dir tenant=1%3A0 → URI tenant=1%253A0
                vals[k] = unquote(unquote(v))
    key = tuple(vals.get(c, "") for c in part_cols)
    m = _BUCKET_FILE_RE.search(segs[-1])
    return key, (int(m.group(1)) if m else -1)


def _partition_file_index(
    spark: SparkSession, table: str, part_cols: list[str]
) -> dict:
    """{partition tuple (decoded VALUES): {bucket_id: file_count}} from
    the current file listing — metadata only, no data read (the analog
    of VM consulting part headers to pick merge candidates,
    lib/storage/partition.go:35-42)."""
    out: dict = {}
    for uri in spark.table(table).inputFiles():
        key, b = _decode_part_uri(uri, part_cols)
        buckets = out.setdefault(key, {})
        buckets[b] = buckets.get(b, 0) + 1
    return out


def _partitions_predicate(part_cols: list[str], parts) -> Column:
    """Row predicate selecting exactly the given partition-value tuples
    (string-compared, matching the decoded file-listing values). One
    ``IN`` over hex literals, as in :func:`merge_small_parts`: an
    OR-chain of one term per partition overflows the JVM stack at about
    500 partitions, and hex needs no escaping in either string-literal
    dialect. Hex has no ``/``, so the joined key is unambiguous."""
    row = ", '/', ".join(f"hex(CAST(`{c}` AS STRING))" for c in part_cols)
    keys = ",".join(
        "'" + "/".join(str(v).encode().hex().upper() for v in p) + "'"
        for p in sorted(parts)
    )
    return F.expr(f"concat({row}) IN ({keys})")


def _drop_partition(
    spark: SparkSession, table: str, part_cols: list[str], part: tuple
) -> None:
    spec = ", ".join(f"{c}='{v}'" for c, v in zip(part_cols, part))
    spark.sql(f"ALTER TABLE {table} DROP PARTITION ({spec})")


def _insert_overwrite_bucketed(
    spark: SparkSession, table: str, sub: DataFrame, n_buckets: int
) -> None:
    """Dynamic-partition-overwrite ``insertInto`` preserving the table's
    bucket/sort spec, each bucket written by exactly one task. The
    exchange keys on the BUCKET ID (:func:`_by_bucket`): a repartition
    on ``__series_key`` is redundant with the bucketed scan's
    partitioning and gets elided, after which each scan split writes its
    own per-bucket file — breaking the one-file-per-(partition, bucket)
    invariant."""
    cols = spark.table(table).columns
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    try:
        old_mode = spark.conf.get(mode_key)
    except Exception:
        old_mode = None
    spark.conf.set(mode_key, "dynamic")
    try:
        out = _by_bucket(sub.select(*cols), "__series_key", n_buckets)
        out.write.mode("overwrite").insertInto(table)
    finally:
        if old_mode is None:
            spark.conf.unset(mode_key)
        else:
            spark.conf.set(mode_key, old_mode)


def _rewrite_partitions(
    spark: SparkSession, table: str, part_cols: list[str], sub: DataFrame,
    targets, n_buckets: int,
) -> set:
    """Overwrite the ``targets`` partitions with the rows of ``sub`` and
    return the ones written. Dynamic overwrite only touches partitions
    present in the output, so a target left with no rows is dropped."""
    written = {
        tuple(str(r[c]) for c in part_cols)
        for r in sub.select(*part_cols).distinct().collect()
    }
    if written:
        _insert_overwrite_bucketed(spark, table, sub, n_buckets)
    for p in sorted(set(targets) - written):
        _drop_partition(spark, table, part_cols, p)
    return written


def _compact_full(
    spark: SparkSession,
    table: str,
    n_buckets: "int | None",
    dedup_interval_ms: int,
    downsample_rules: "list | None" = None,
    now_ms: "int | None" = None,
) -> None:
    """Whole-table rewrite (rebucketing / explicit ``full=True``)."""
    tmp = f"{table}__compacting"
    src = _apply_tombstones(spark, spark.table(table), table).drop("date")
    if downsample_rules and now_ms is not None:
        from victoriametrics_spark.storage.downsample import downsample

        src = downsample(src, downsample_rules, int(now_ms))
    write_samples_table(
        src,
        tmp,
        n_buckets=n_buckets,
        dedup_interval_ms=dedup_interval_ms,
    )
    spark.sql(f"DROP TABLE {table}")
    if spark.catalog.tableExists(_tombstone_table(table)):
        spark.sql(f"DROP TABLE {_tombstone_table(table)}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    # the rename moves the managed dir; refresh partition metadata to the
    # moved locations
    spark.sql(f"MSCK REPAIR TABLE {table}")
    spark.catalog.refreshTable(table)


def compact_samples_table(
    spark: SparkSession,
    table: str,
    n_buckets: "int | None" = None,
    dedup_interval_ms: int = 0,
    dates: "list | None" = None,
    full: bool = False,
    downsample_rules: "list | None" = None,
    now_ms: "int | None" = None,
    _file_counts: "dict | None" = None,
    _dead_rows: "list | None" = None,
) -> None:
    """LSM-merge analog — PARTITION-SCOPED since round 9, like VM's
    per-partition merges (lib/storage/partition.go:35-42 pick merge
    candidates per partition; lib/storage/merge.go merges those parts
    only). Only the partitions that need work are rewritten:

    - partitions where some (bucket) holds >1 data file (appends since
      the last compact), found from the FILE LISTING alone;
    - partitions holding tombstoned rows (:func:`delete_series`), found
      by a column-pruned scan of ``__series_key`` joined with the
      broadcast tombstone side-table.

    Untouched partitions' files are left byte-identical — at 100 TB a
    compaction after a one-day delete rewrites that day, not the table.
    Rewrites go through dynamic-partition-overwrite ``insertInto``, which
    preserves the table's bucket/sort spec; fully-dead partitions (every
    row tombstoned) are dropped via ``ALTER TABLE .. DROP PARTITION``.

    ``dates`` restricts the rewrite to those date partition values (str
    or date); a tombstone is cleared only once EVERY partition holding
    its dead rows has been rewritten — a partial compact leaves it in
    place, exactly like VM keeps deleted metricIDs until the last
    affected part is merged. ``full=True`` (or an ``n_buckets`` other
    than the table's) forces the old whole-table rewrite; None keeps the
    table's bucket count."""
    cur = _table_num_buckets(spark, table)
    scan = spark.table(table)
    part_cols = [c for c in ("tenant", "date") if c in scan.columns]
    if n_buckets is None:
        n_buckets = cur
    if full or cur is None or cur != n_buckets or not part_cols:
        _compact_full(
            spark,
            table,
            n_buckets,
            dedup_interval_ms,
            downsample_rules=downsample_rules,
            now_ms=now_ms,
        )
        return
    date_set = {str(d) for d in dates} if dates is not None else None

    # (1) small-file partitions — metadata only. maintain_samples_table
    # passes its own listing through _file_counts so one maintenance
    # cycle lists the table once, not twice.
    idx = (
        _file_counts
        if _file_counts is not None
        else _partition_file_index(spark, table, part_cols)
    )
    affected = {
        p for p, buckets in idx.items() if any(c > 1 for c in buckets.values())
    }
    # (2) partitions holding dead rows, plus the per-tombstone map of
    # where its dead rows live (decides which tombstones may clear)
    tomb, join_cols = _grouped_tombstones(spark, scan, table)
    dead_by_key: dict = {}
    if tomb is not None:
        if _dead_rows is not None:
            dead = _dead_rows  # precomputed by maintain_samples_table
        else:
            file_ms = F.unix_millis(F.col("_metadata.file_modification_time"))
            dead = (
                scan.withColumn("__file_ms", file_ms)
                .join(F.broadcast(tomb), join_cols)
                .filter(F.col("__file_ms") <= F.col("__del_at"))
                .select(*part_cols, *join_cols)
                .distinct()
                .collect()
            )
        for r in dead:
            p = tuple(str(r[c]) for c in part_cols)
            dead_by_key.setdefault(
                tuple(r[c] for c in join_cols), set()
            ).add(p)
            affected.add(p)

    target = (
        affected
        if date_set is None
        else {p for p in affected if p[-1] in date_set}
    )
    if target:
        pred = _partitions_predicate(part_cols, target)
        sub = _apply_tombstones(spark, scan, table).filter(pred)
        if dedup_interval_ms > 0:
            from victoriametrics_spark.streaming.streamaggr import dedup_samples

            sub = dedup_samples(sub, dedup_interval_ms)
        if downsample_rules and now_ms is not None:
            # rules-aware rewrite (VM applies -downsampling.period during
            # merges): keeps the tier invariant downsample_partitions'
            # mtime test relies on
            from victoriametrics_spark.storage.downsample import downsample

            sub = downsample(sub, downsample_rules, int(now_ms))
        _rewrite_partitions(spark, table, part_cols, sub, target, cur)
        spark.catalog.refreshTable(table)

    # (3) clear only the tombstones whose dead rows were all rewritten
    if tomb is not None:
        survivors = {
            k for k, parts in dead_by_key.items() if not parts <= target
        }
        tomb_tbl = _tombstone_table(table)
        if not survivors:
            spark.sql(f"DROP TABLE IF EXISTS {tomb_tbl}")
        else:
            rows = spark.table(tomb_tbl).collect()
            schema = spark.table(tomb_tbl).schema
            keep = [
                r
                for r in rows
                if tuple(r[c] for c in join_cols) in survivors
            ]
            spark.createDataFrame(keep, schema).write.mode(
                "overwrite"
            ).format("parquet").saveAsTable(tomb_tbl)
            spark.catalog.refreshTable(tomb_tbl)


def _partition_files_with_size(
    spark: SparkSession, table: str, part_cols: list[str]
) -> dict:
    """{partition tuple (decoded VALUES): {bucket_id: [(uri,
    size_bytes, mtime_ms)]}} — metadata only (the part-header inspection
    VM's merge picker does). URIs are returned as ``inputFiles()`` lists
    them; ``_plain_uri`` turns one into the path Hadoop/os operations
    want."""
    import os as _os

    jsc = spark.sparkContext._jsc
    jvm = spark.sparkContext._jvm
    out: dict = {}
    for uri in spark.table(table).inputFiles():
        key, b = _decode_part_uri(uri, part_cols)
        plain = _plain_uri(uri)
        if plain.startswith("file:"):
            # local fast path — one Py4J round-trip per file adds up
            # over thousands of parts
            local = "/" + plain[5:].lstrip("/")
            st = _os.stat(local)
            size, mtime_ms = st.st_size, int(st.st_mtime * 1000)
        else:
            hpath = jvm.org.apache.hadoop.fs.Path(plain)
            fs = hpath.getFileSystem(jsc.hadoopConfiguration())
            st = fs.getFileStatus(hpath)
            size, mtime_ms = st.getLen(), st.getModificationTime()
        out.setdefault(key, {}).setdefault(b, []).append(
            (uri, size, mtime_ms)
        )
    return out


def merge_small_parts(
    spark: SparkSession,
    table: str,
    max_small_bytes: int = 64 << 20,
    dates: "list | None" = None,
    downsample_rules: "list | None" = None,
    now_ms: "int | None" = None,
) -> int:
    """Size-tiered small-part merge — the incremental tier of the LSM
    story (VM's mergeset merges SMALL parts into bigger ones and leaves
    big parts alone until they accumulate peers, lib/mergeset +
    lib/storage/partition.go merge picking). Within each (partition,
    bucket), files ≤ ``max_small_bytes`` are merged into ONE new
    bucket-aligned, ts-sorted file; files above the threshold are left
    byte-untouched. Cost is therefore ∝ freshly-appended data, not
    partition size — the frequent cheap op between rare
    :func:`compact_samples_table` full-partition rewrites (which restore
    the one-file-per-bucket sorted-scan invariant).

    ``max_small_bytes`` compares compressed sizes on disk, as VM's part
    sizes do: under :data:`AT_REST_OPTIONS` a file of more than a few
    hundred rows is about a third smaller than under Spark's snappy
    default, so one threshold covers more rows.

    The small files are read through the table's own file index, pruned
    by ``_metadata.file_path``, and their rows are appended to the table
    in one job for all affected partitions.

    Tombstoned rows are dropped while merging (the merged file's fresh
    mtime would otherwise resurrect them past the tombstone watermark);
    the tombstone side-table itself is left for compaction to clear,
    since big files may still hold dead rows. Returns the number of
    small files merged away."""
    cur = _table_num_buckets(spark, table)
    scan = spark.table(table)
    part_cols = [c for c in ("tenant", "date") if c in scan.columns]
    if cur is None or not part_cols:
        raise ValueError(f"{table!r} is not a bucketed, partitioned table")
    date_set = {str(d) for d in dates} if dates is not None else None
    idx = _partition_files_with_size(spark, table, part_cols)
    smalls: list[str] = []
    for part, buckets in sorted(idx.items()):
        if date_set is not None and part[-1] not in date_set:
            continue
        for files in buckets.values():
            small_b = [u for u, size, _ in files if size <= max_small_bytes]
            if len(small_b) >= 2:
                smalls.extend(small_b)
    if not smalls:
        return 0
    # the file list goes in as hex literals: they need no escaping in
    # either string-literal dialect, and one SQL string crosses py4j
    # once, where Column.isin makes a round trip per element. The
    # filter prunes files before any is opened; a partition predicate
    # on top would add only driver cost
    keys = ",".join(f"'{_file_key(u).encode().hex().upper()}'" for u in smalls)
    df = scan.filter(F.expr(f"hex({_FILE_KEY_SQL}) IN ({keys})"))
    df = _apply_tombstones(spark, df, table)
    if downsample_rules and now_ms is not None:
        # thin the merged small parts like VM downsampling a partial
        # merge: intervals split across a big part and these small parts
        # converge at the next full-partition rewrite
        from victoriametrics_spark.storage.downsample import downsample

        df = downsample(df, downsample_rules, int(now_ms))
    # appended in one job, each bucket by one task, before the small
    # files go: a reader in between sees rows twice, never loses one
    out = _by_bucket(df.select(*scan.columns), "__series_key", cur)
    out.write.mode("append").insertInto(table)
    # one lookup of the class: each step of the package path is a py4j
    # round trip, per file deleted otherwise
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs = Path(_plain_uri(smalls[0])).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    for old in smalls:
        fs.delete(Path(_plain_uri(old)), False)
    spark.catalog.refreshTable(table)
    return len(smalls)


def _maint_state_file(spark: SparkSession, table: str):
    """(fs, Path) of the table's ``_maintenance_state.json`` — the part
    header analog (VM part headers record what a merge already applied;
    we record, per partition, a file-set fingerprint plus the downsample
    tier / retention-filter deadlines last applied). The leading ``_``
    keeps it invisible to Spark's file index, like ``_SUCCESS``."""
    jsc = spark.sparkContext._jsc
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        f"{table.lower()}/_maintenance_state.json",
    )
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    return fs, path, jvm


def _read_maint_state(spark: SparkSession, table: str) -> dict:
    import json as _json

    fs, path, jvm = _maint_state_file(spark, table)
    if not fs.exists(path):
        return {}
    stream = fs.open(path)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        return _json.loads(text)
    except ValueError:
        return {}


def _write_maint_state(spark: SparkSession, table: str, state: dict) -> None:
    import json as _json

    fs, path, _ = _maint_state_file(spark, table)
    out = fs.create(path, True)
    try:
        out.write(bytearray(_json.dumps(state, sort_keys=True).encode()))
    finally:
        out.close()


def _partition_fingerprint(buckets: dict) -> str:
    """Stable hash of a partition's file set (names carry job UUIDs, so
    ANY rewrite — ours or a rules-blind compact/merge/append — changes
    the fingerprint and invalidates recorded maintenance state)."""
    import hashlib as _hashlib

    names = sorted(
        f"{p.rsplit('/', 1)[-1]}:{size}"
        for files in buckets.values()
        for p, size, _ in files
    )
    return _hashlib.sha1("\n".join(names).encode()).hexdigest()


def _date_bounds_ms(date_str: str) -> tuple[int, int]:
    """[start, end) epoch-ms of a ``date`` partition value (UTC)."""
    import datetime as _dt

    d = _dt.datetime.strptime(date_str, "%Y-%m-%d").replace(
        tzinfo=_dt.timezone.utc
    )
    start = int(d.timestamp() * 1000)
    return start, start + 86_400_000


def _retention_filter_preds(
    retention_filters,
) -> "list[tuple[Column, int]]":
    """[(row predicate, retention_ms)] from ``[(selector, ms), ...]`` —
    the -retentionFilter analog (per-series-selector retention; the
    reference applies these during background merges)."""
    from victoriametrics_spark.engine.planner import selector_predicate
    from victoriametrics_spark.metricsql import parse
    from victoriametrics_spark.metricsql.ast import MetricExpr

    out = []
    for sel, f_ms in retention_filters or []:
        e = parse(sel)
        if not isinstance(e, MetricExpr):
            raise ValueError(
                f"retention filter {sel!r} is not a series selector"
            )
        out.append((selector_predicate(e), int(f_ms)))
    return out


def _retention_keep_predicate(
    now_ms: int, retention_ms: int, filter_preds
) -> Column:
    """Rows that SURVIVE retention — the skipSamplesOutsideRetention
    analog (lib/storage/merge.go:205) plus per-filter deadlines."""
    keep = F.lit(True)
    if retention_ms > 0:
        keep = keep & (F.col("ts") >= F.lit(int(now_ms) - int(retention_ms)))
    for pred, f_ms in filter_preds:
        keep = keep & ~(pred & (F.col("ts") < F.lit(int(now_ms) - f_ms)))
    return keep


def apply_retention(
    spark: SparkSession,
    table: str,
    now_ms: int,
    retention_ms: int = 0,
    retention_filters: "list | None" = None,
    future_retention_ms: int = 2 * 86_400_000,
) -> dict:
    """Retention enforcement — the retentionWatcher analog
    (lib/storage/table.go:446-470): date partitions FULLY older than
    ``now_ms - retention_ms`` (or starting beyond ``now_ms +
    future_retention_ms``, the -inmemoryDataFlushInterval-independent
    future-retention guard) are dropped wholesale — a metadata +
    directory delete, no data read, exactly like VM dropping stale
    monthly partitions. Rows inside the surviving boundary partition
    stay visible until a rewrite drops them (VM serves out-of-retention
    rows until the next merge; skipSamplesOutsideRetention,
    lib/storage/merge.go:205).

    ``retention_filters`` is ``[(series_selector, retention_ms), ...]``
    — the -retentionFilter analog: series matching a selector get a
    shorter retention. Partitions where every matching row has expired
    are rewritten once (dynamic-partition-overwrite, bucket spec
    preserved) with the expired rows dropped; the maintenance-state
    fingerprint (``_maintenance_state.json``, the part-header analog)
    skips partitions already rewritten for every crossed deadline, so
    repeated calls are metadata-only — while any later append/rewrite
    changes the partition's file set and re-arms the check. Partitions
    partially past a filter deadline are left for merge-time cleanup
    (lazy, like the reference).

    Returns ``{"dropped_partitions": [...], "rewritten_partitions":
    [...]}`` (partition-value tuples, tenant first when present)."""
    scan = spark.table(table)
    part_cols = [c for c in ("tenant", "date") if c in scan.columns]
    if "date" not in part_cols:
        raise ValueError(f"{table!r} is not a date-partitioned table")
    cur = _table_num_buckets(spark, table)
    idx = _partition_files_with_size(spark, table, part_cols)
    state = _read_maint_state(spark, table)
    state_dirty = False
    now_ms = int(now_ms)

    dropped: list = []
    for part in sorted(idx):
        start, end = _date_bounds_ms(part[-1])
        expired = retention_ms > 0 and end <= now_ms - int(retention_ms)
        too_future = start > now_ms + int(future_retention_ms)
        if expired or too_future:
            _drop_partition(spark, table, part_cols, part)
            dropped.append(part)
            if state.pop("|".join(part), None) is not None:
                state_dirty = True

    filter_preds = _retention_filter_preds(retention_filters)
    rewritten: list = []
    if filter_preds and cur is not None:
        dropped_set = set(dropped)
        targets = []
        crossed_by_key: dict = {}
        for part, buckets in sorted(idx.items()):
            if part in dropped_set:
                continue
            _, end = _date_bounds_ms(part[-1])
            # deadlines this partition has FULLY crossed (its newest
            # possible matching row, at end-1ms, is already expired)
            crossed = [
                f"{sel}|{int(f_ms)}"
                for sel, f_ms in retention_filters
                if end <= now_ms - int(f_ms)
            ]
            if not crossed:
                continue
            key = "|".join(part)
            st = state.get(key)
            if (
                st
                and st.get("files") == _partition_fingerprint(buckets)
                and set(crossed) <= set(st.get("retf", []))
            ):
                continue  # already rewritten for these deadlines
            targets.append(part)
            crossed_by_key[key] = crossed
        if targets:
            keep = _retention_keep_predicate(
                now_ms, int(retention_ms), filter_preds
            )
            sub = _apply_tombstones(
                spark,
                scan.filter(_partitions_predicate(part_cols, targets)),
                table,
            ).filter(keep)
            written = _rewrite_partitions(
                spark, table, part_cols, sub, targets, cur
            )
            for p in set(targets) - written:
                state.pop("|".join(p), None)
            rewritten = sorted(targets)
            spark.catalog.refreshTable(table)
            new_idx = _partition_files_with_size(spark, table, part_cols)
            for p in sorted(written):
                key = "|".join(p)
                st = state.setdefault(key, {})
                st["files"] = _partition_fingerprint(new_idx.get(p, {}))
                st["retf"] = sorted(
                    set(st.get("retf", [])) | set(crossed_by_key[key])
                )
            state_dirty = True
    if state_dirty:
        _write_maint_state(spark, table, state)
    if dropped or rewritten:
        spark.catalog.refreshTable(table)
    return {"dropped_partitions": dropped, "rewritten_partitions": rewritten}


def downsample_partitions(
    spark: SparkSession,
    table: str,
    rules: "list[tuple[int, int]]",
    now_ms: int,
    dates: "list | None" = None,
) -> list:
    """Physically apply age-tiered downsampling (storage/downsample.py)
    to the partitions that need it — the reference applies
    -downsampling.period during background part merges, so thinning cost
    is amortized into maintenance, never paid at query time.

    A partition qualifies once it is FULLY aged past some rule offset
    (``now_ms - partition_end >= offset``). The maintenance-state
    fingerprint (``_maintenance_state.json``, the part-header analog)
    skips partitions whose CURRENT file set was already rewritten under
    the same rules at the same (or a deeper) tier, so repeated
    maintenance calls are metadata-only — while any append/backfill or
    rules-blind rewrite changes the file set and re-arms the check
    (downsampling is idempotent, so a spurious re-run only costs a
    rewrite). Aging into a deeper tier, or changing the rules, re-arms
    it too. Passing ``dates`` forces those partitions through
    regardless of recorded state.

    Returns the list of rewritten partition-value tuples."""
    from victoriametrics_spark.storage.downsample import downsample

    if not rules:
        return []
    cur = _table_num_buckets(spark, table)
    scan = spark.table(table)
    part_cols = [c for c in ("tenant", "date") if c in scan.columns]
    if cur is None or not part_cols:
        raise ValueError(f"{table!r} is not a bucketed, partitioned table")
    date_set = {str(d) for d in dates} if dates is not None else None
    idx = _partition_files_with_size(spark, table, part_cols)
    state = _read_maint_state(spark, table)
    from victoriametrics_spark.storage.downsample import (
        rule_offsets,
        rules_signature,
    )

    rules_sig = rules_signature(rules)
    all_offs = rule_offsets(rules)
    now_ms = int(now_ms)
    targets = []
    off_by_key: dict = {}
    for part, buckets in sorted(idx.items()):
        if date_set is not None and part[-1] not in date_set:
            continue
        _, end = _date_bounds_ms(part[-1])
        offs = [off for off in all_offs if now_ms - end >= off]
        if not offs:
            continue
        key = "|".join(part)
        if date_set is None:
            st = state.get(key)
            if (
                st
                and st.get("files") == _partition_fingerprint(buckets)
                and st.get("rules") == rules_sig
                and st.get("ds_off", -1) >= max(offs)
            ):
                continue  # this exact file set already thinned here
        targets.append(part)
        off_by_key[key] = max(offs)
    if not targets:
        return []
    sub = _apply_tombstones(
        spark,
        scan.filter(_partitions_predicate(part_cols, targets)),
        table,
    )
    sub = downsample(sub, rules, now_ms)
    _insert_overwrite_bucketed(spark, table, sub, cur)
    spark.catalog.refreshTable(table)
    new_idx = _partition_files_with_size(spark, table, part_cols)
    for part in targets:
        key = "|".join(part)
        st = state.setdefault(key, {})
        st["files"] = _partition_fingerprint(new_idx.get(part, {}))
        st["rules"] = rules_sig
        st["ds_off"] = off_by_key[key]
    _write_maint_state(spark, table, state)
    return sorted(targets)


def maintain_samples_table(
    spark: SparkSession,
    table: str,
    max_small_bytes: int = 64 << 20,
    max_files_per_bucket: int = 8,
    dedup_interval_ms: int = 0,
    now_ms: "int | None" = None,
    retention_ms: int = 0,
    retention_filters: "list | None" = None,
    future_retention_ms: int = 2 * 86_400_000,
    downsample_rules: "list | None" = None,
) -> dict:
    """Background-merger policy (VM runs merges continuously per
    partition, lib/storage/partition.go mergeWorker): ONE entry point
    that picks the cheapest sufficient maintenance per partition from
    the file index + tombstones:

    - first, retention (``retention_ms`` / ``retention_filters`` /
      ``future_retention_ms`` with ``now_ms``): fully-expired partitions
      dropped wholesale, filter-expired partitions rewritten once — the
      retentionWatcher analog (:func:`apply_retention`);
    - partitions holding tombstoned (dead) rows, or where some bucket
      exceeds ``max_files_per_bucket`` files → full partition compact
      (restores the one-file-per-bucket sorted-scan invariant and lets
      tombstones clear);
    - otherwise, partitions where some bucket has ≥2 files ≤
      ``max_small_bytes`` → size-tiered small-part merge (cost ∝ fresh
      data);
    - finally, ``downsample_rules`` thins fully-aged partitions in place
      (:func:`downsample_partitions`). Whole-partition compactions above
      already apply the rules (VM applies -downsampling.period during
      merges) and are stamped done in the maintenance state, so the
      trailing pass skips them; tier-merges only touch small parts, so
      their partitions stay armed until fully thinned;
    - clean partitions → untouched.

    Returns ``{"compacted_dates": [...], "merged_files": n,
    "dropped_partitions": [...], "retention_rewritten": [...],
    "downsampled_partitions": [...]}``."""
    cur = _table_num_buckets(spark, table)
    scan = spark.table(table)
    part_cols = [c for c in ("tenant", "date") if c in scan.columns]
    if cur is None or not part_cols:
        raise ValueError(f"{table!r} is not a bucketed, partitioned table")
    dropped: list = []
    ret_rewritten: list = []
    if now_ms is not None and (retention_ms > 0 or retention_filters):
        ret = apply_retention(
            spark,
            table,
            now_ms,
            retention_ms=retention_ms,
            retention_filters=retention_filters,
            future_retention_ms=future_retention_ms,
        )
        dropped = ret["dropped_partitions"]
        ret_rewritten = ret["rewritten_partitions"]
        scan = spark.table(table)
    idx = _partition_files_with_size(spark, table, part_cols)

    dead_parts: set = set()
    dead_rows: list = []
    tomb, join_cols = _grouped_tombstones(spark, scan, table)
    if tomb is not None:
        file_ms = F.unix_millis(F.col("_metadata.file_modification_time"))
        # one column-pruned dead-row scan per maintenance cycle: the
        # rows (with the tombstone key) feed compact_samples_table's
        # dead_by_key directly instead of being re-scanned there
        dead_rows = (
            scan.withColumn("__file_ms", file_ms)
            .join(F.broadcast(tomb), join_cols)
            .filter(F.col("__file_ms") <= F.col("__del_at"))
            .select(*part_cols, *join_cols)
            .distinct()
            .collect()
        )
        for r in dead_rows:
            dead_parts.add(tuple(str(r[c]) for c in part_cols))

    compact_parts: set = set(dead_parts)
    merge_parts: set = set()
    for part, buckets in idx.items():
        if any(len(files) > max_files_per_bucket for files in buckets.values()):
            compact_parts.add(part)
        elif part not in compact_parts and any(
            len([p for p, sz, _ in files if sz <= max_small_bytes]) >= 2
            for files in buckets.values()
        ):
            merge_parts.add(part)

    compacted: list = []
    if compact_parts or tomb is not None:
        compact_dates = sorted({p[-1] for p in compact_parts})
        if compact_dates or tomb is not None:
            compact_samples_table(
                spark,
                table,
                dedup_interval_ms=dedup_interval_ms,
                dates=compact_dates,
                downsample_rules=downsample_rules,
                now_ms=now_ms,
                _file_counts={
                    p: {b: len(fs) for b, fs in bk.items()}
                    for p, bk in idx.items()
                },
                _dead_rows=dead_rows,
            )
            compacted = compact_dates
            if downsample_rules and now_ms is not None and compact_parts:
                # a whole-partition compact with rules fully thinned the
                # partition — stamp it so the trailing downsample pass
                # doesn't rewrite it a second time
                from victoriametrics_spark.storage.downsample import (
                    rule_offsets,
                    rules_signature,
                )

                state = _read_maint_state(spark, table)
                new_idx = _partition_files_with_size(
                    spark, table, part_cols
                )
                rules_sig = rules_signature(downsample_rules)
                ds_offs = rule_offsets(downsample_rules)
                dirty = False
                for part in compact_parts:
                    if part not in new_idx:
                        continue  # fully dead, dropped
                    _, end = _date_bounds_ms(part[-1])
                    offs = [
                        off for off in ds_offs if int(now_ms) - end >= off
                    ]
                    if not offs:
                        continue
                    st = state.setdefault("|".join(part), {})
                    st["files"] = _partition_fingerprint(new_idx[part])
                    st["rules"] = rules_sig
                    st["ds_off"] = max(offs)
                    dirty = True
                if dirty:
                    _write_maint_state(spark, table, state)
    merged = 0
    if merge_parts:
        merged = merge_small_parts(
            spark,
            table,
            max_small_bytes=max_small_bytes,
            dates=sorted({p[-1] for p in merge_parts}),
            downsample_rules=downsample_rules,
            now_ms=now_ms,
        )
    downsampled: list = []
    if downsample_rules and now_ms is not None:
        downsampled = downsample_partitions(
            spark, table, downsample_rules, now_ms
        )
    return {
        "compacted_dates": compacted,
        "merged_files": merged,
        "dropped_partitions": dropped,
        "retention_rewritten": ret_rewritten,
        "downsampled_partitions": downsampled,
    }


# ---------------------------------------------------------------- logs
def write_logs_table(
    logs: DataFrame,
    table: str,
    stream_fields: list[str] | None = None,
    n_buckets: "int | None" = None,
    mode: str = "overwrite",
) -> None:
    """Day-partitioned, stream-bucketed LogsQL log table — the log
    counterpart of :func:`write_samples_table` and the Spark analog of
    the reference's per-day log storage with per-stream block layout
    (vendored logstorage: partitions are daily, rows within a block
    share one _stream).

    - ``date`` partition dirs → every ``_time`` filter prunes whole days;
    - ``bucketBy(N, _stream)`` → stream filters/stream_context/per-stream
      windows run with zero Exchange (each executor owns whole streams);
    - ``sortBy(_stream, _time)`` → in-file time order per stream, so
      stream_context's row_number window is a local merge.

    ``stream_fields`` (if given) materializes the canonical ``_stream``
    column first (pipes.set_stream_fields); otherwise the frame must
    already carry one. A ``tenant`` column (VictoriaLogs AccountID/
    ProjectID headers) becomes the leading partition directory, like
    the samples table. Bucket counts as in :func:`write_samples_table`:
    ``n_buckets``, else :func:`default_buckets`, for a new table; an
    append keeps the table's.
    """
    from victoriametrics_spark.logsql import pipes as _pipes

    df = logs
    if stream_fields:
        df = _pipes.set_stream_fields(df, stream_fields)
    if "_stream" not in df.columns:
        df = df.withColumn("_stream", F.lit("{}"))
    df = df.withColumn("date", F.to_date(F.col("_time").cast("timestamp")))
    log_parts = ["tenant", "date"] if "tenant" in df.columns else ["date"]
    _save_bucketed(df, table, log_parts, "_stream", "_time", n_buckets, mode)


def apply_logs_retention(
    spark: SparkSession,
    table: str,
    now_ms: int,
    retention_ms: int,
) -> list:
    """VictoriaLogs retention: day partitions FULLY older than the
    retention period are dropped wholesale (the reference's log storage
    deletes whole per-day partitions — retention is day-granular by
    design there, so this is the complete semantics, not a
    simplification). Metadata + directory delete only; returns the
    dropped partition-value tuples."""
    scan = spark.table(table)
    part_cols = [c for c in ("tenant", "date") if c in scan.columns]
    if "date" not in part_cols:
        raise ValueError(f"{table!r} is not a date-partitioned table")
    now_ms = int(now_ms)
    dropped: list = []
    for part in sorted(_partition_file_index(spark, table, part_cols)):
        _, end = _date_bounds_ms(part[-1])
        if end <= now_ms - int(retention_ms):
            _drop_partition(spark, table, part_cols, part)
            dropped.append(part)
    if dropped:
        spark.catalog.refreshTable(table)
    return dropped


def read_samples_multitenant(spark: SparkSession, table: str) -> DataFrame:
    """ALL tenants' samples with the tenant identity exposed as the
    ``vm_account_id`` / ``vm_project_id`` labels — the cluster
    vmselect `multitenant` endpoint's data model
    (app/vmselect: querying tenant `multitenant` returns every
    tenant's series tagged with its (AccountID, ProjectID))."""
    df = _apply_tombstones(spark, spark.table(table), table)
    if "tenant" not in df.columns:
        raise ValueError(f"table {table!r} has no tenant partition")
    t = F.col("tenant").cast("string")
    acc = F.split_part(t, F.lit(":"), F.lit(1))
    proj = F.split_part(t, F.lit(":"), F.lit(2))
    labels = F.map_concat(
        F.coalesce(F.col("labels"), F.expr("map()")),
        F.create_map(
            F.lit("vm_account_id"), acc, F.lit("vm_project_id"), proj
        ),
    )
    out = df.withColumn("labels", labels).drop("tenant")
    if "__series_key" in out.columns:
        # the STORED key doesn't embed the tenant (VM series keys are
        # per-tenant-index-scoped) — two tenants' identically-labeled
        # series share it and would merge into one series downstream;
        # recompute over the tenant-augmented labels
        out = out.withColumn(
            "__series_key", series_key(F.col("name"), F.col("labels"))
        )
    return out


def read_logs_table(
    spark: SparkSession,
    table: str,
    start_ms: int | None = None,
    end_ms: int | None = None,
    tenant: str | None = None,
) -> DataFrame:
    """Partition-pruned log scan; day-granular, like the reference's
    daily partition selection. The exact ``_time`` range filter still
    applies inside the LogsQL query — this only bounds the directories
    read. Multi-tenant tables require a ``tenant`` scope (VictoriaLogs
    has no cross-tenant query either)."""
    df = spark.table(table)
    if "tenant" in df.columns:
        if tenant is None:
            raise ValueError(
                f"table {table!r} is multi-tenant; pass tenant='a:p'"
            )
        # canonicalized match (tenant="1" ≡ "1:0"), like the metrics side
        df = df.filter(F.col("tenant") == parse_tenant(tenant))
    if start_ms is not None:
        df = df.filter(
            F.col("date") >= F.to_date(F.timestamp_millis(F.lit(start_ms)))
        )
    if end_ms is not None:
        df = df.filter(
            F.col("date") <= F.to_date(F.timestamp_millis(F.lit(end_ms)))
        )
    return df.drop("date", "tenant")
