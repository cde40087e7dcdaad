"""LogsQL pipe operators as DataFrame combinators.

Reference inventory (vendored VictoriaLogs, SURVEY.md §2.9):
pipe_stats.go (stats by + 26 stats funcs), pipe_sort.go/sort_topk.go,
pipe_join.go, pipe_top.go, pipe_uniq.go, pipe_limit/offset, pipe_math.go,
pipe_extract[_regexp].go, pipe_unpack_json.go, pipe_unroll.go,
pipe_first/last.go, pipe_running_stats.go, pipe_facets.go, pipe_filter
family (filter_phrase.go etc.).

Each pipe is a pure DataFrame→DataFrame function; chains compose with
ordinary function composition so Catalyst sees one logical plan (column
pruning and predicate pushdown cross pipe boundaries for free).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# stats-function registry (pipe_stats.go stats funcs → Catalyst aggs)
STATS_FUNCS: dict[str, Callable[[Column], Column]] = {
    "count": lambda c: F.count(c),
    "count_uniq": lambda c: F.count_distinct(c),
    "count_uniq_hash": lambda c: F.approx_count_distinct(c),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "avg": lambda c: F.avg(c),
    "median": lambda c: F.percentile(c, F.lit(0.5)),
    "stddev": lambda c: F.stddev_pop(c),
    "uniq_values": lambda c: F.array_sort(F.collect_set(c)),
    "values": lambda c: F.collect_list(c),
    "any": lambda c: F.first(c),
    "sum_len": lambda c: F.sum(F.length(c)),
    "count_empty": lambda c: F.count_if(c.isNull() | (c.cast("string") == "")),
}


def stats(
    df: DataFrame,
    by: list[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """``| stats by (fields) f1(...) as a1, ...`` (pipe_stats.go)."""
    agg_cols = [c.alias(name) for name, c in aggs.items()]
    if by:
        return df.groupBy(*by).agg(*agg_cols)
    return df.groupBy().agg(*agg_cols)


def quantile(c: Column, phi: float) -> Column:
    return F.percentile(c, F.lit(phi))


def sort(df: DataFrame, by: list[tuple[str, bool]], limit: int | None = None) -> DataFrame:
    """``| sort by (f1 desc, f2) [limit N]`` (pipe_sort.go; limited sort =
    sort_topk.go's top-N heap, which Spark's TakeOrderedAndProject is)."""
    cols = [F.col(c).desc() if desc else F.col(c).asc() for c, desc in by]
    out = df.orderBy(*cols)
    return out.limit(limit) if limit is not None else out


def join(
    df: DataFrame,
    sub: DataFrame,
    by: list[str],
    how: str = "left",
    prefix: str = "",
) -> DataFrame:
    """``| join by (fields) (subquery) [inner] [prefix]`` —
    LEFT by default, INNER optional (pipe_join.go:16-42)."""
    if prefix:
        renames = {c: prefix + c for c in sub.columns if c not in by}
        for old, new in renames.items():
            sub = sub.withColumnRenamed(old, new)
    return df.join(sub, on=by, how=how)


def top(df: DataFrame, fields: list[str], k: int) -> DataFrame:
    """``| top N by (fields)`` — most frequent field values (pipe_top.go).
    Deterministic: ties broken by field values ascending."""
    counted = df.groupBy(*fields).agg(F.count("*").alias("hits"))
    order = [F.col("hits").desc()] + [F.col(f).asc() for f in fields]
    return counted.orderBy(*order).limit(k)


def uniq(df: DataFrame, fields: list[str]) -> DataFrame:
    """``| uniq by (fields)`` (pipe_uniq.go)."""
    return df.select(*fields).distinct()


def limit_offset(
    df: DataFrame, limit: int, offset: int = 0, order=None
) -> DataFrame:
    """``| offset N | limit M``.

    ``order`` is a list of (column, desc) sort keys; when given, the
    offset window is ordered by them — deterministic under retries and
    re-partitioning. Without it, offset falls back to
    ``offset+limit`` rows taken in plan order then sliced — still
    deterministic per plan (monotonically_increasing_id was neither:
    nondeterministic under retries AND a single-task global window)."""
    if offset:
        if order:
            cols = [
                (F.col(c).desc() if d else F.col(c).asc()) for c, d in order
            ]
            w = Window.orderBy(*cols)
            return (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(
                    (F.col("__rn") > offset) & (F.col("__rn") <= offset + limit)
                )
                .drop("__rn")
            )
        # presentation-only slice: bound the frame to offset+limit rows
        # first, then number deterministically by the full row content —
        # the single-task window only ever sees offset+limit rows
        head = df.limit(offset + limit)
        w = Window.orderBy(*[F.col(c) for c in df.columns])
        return (
            head.withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") > offset) & (F.col("__rn") <= offset + limit))
            .drop("__rn")
        )
    return df.limit(limit)


def math(df: DataFrame, exprs: dict[str, Column]) -> DataFrame:
    """``| math expr as field`` (pipe_math.go)."""
    out = df
    for name, c in exprs.items():
        out = out.withColumn(name, c)
    return out


def extract_regexp(df: DataFrame, src: str, pattern: str, groups: dict[str, int]) -> DataFrame:
    """``| extract_regexp "re" from field`` (pipe_extract_regexp.go)."""
    out = df
    for name, gidx in groups.items():
        out = out.withColumn(name, F.regexp_extract(F.col(src), pattern, gidx))
    return out


def unpack_json(df: DataFrame, src: str, fields: list[str], prefix: str = "") -> DataFrame:
    """``| unpack_json from field`` (pipe_unpack_json.go) — extracts the
    listed keys as string columns."""
    out = df
    for f in fields:
        out = out.withColumn(prefix + f, F.get_json_object(F.col(src), f"$.{f}"))
    return out


def unroll(df: DataFrame, field: str, out_field: str | None = None) -> DataFrame:
    """``| unroll by (field)`` → explode (pipe_unroll.go)."""
    return df.withColumn(out_field or field, F.explode(F.col(field)))


def first(df: DataFrame, by: list[str], order: list[tuple[str, bool]]) -> DataFrame:
    """``| first by (...)`` — first row per group in the given order
    (pipe_first.go); deterministic via full-order tie-break."""
    cols = [F.col(c).desc() if desc else F.col(c).asc() for c, desc in order]
    w = Window.partitionBy(*by).orderBy(*cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def last(df: DataFrame, by: list[str], order: list[tuple[str, bool]]) -> DataFrame:
    inv = [(c, not d) for c, d in order]
    return first(df, by, inv)


def running_stats(
    df: DataFrame,
    by: list[str],
    order: list[tuple[str, bool]],
    aggs: dict[str, Column],
) -> DataFrame:
    """``| running_stats`` — cumulative aggregates in row order
    (pipe_running_stats.go)."""
    cols = [F.col(c).desc() if desc else F.col(c).asc() for c, desc in order]
    w = (
        Window.partitionBy(*by)
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for name, c in aggs.items():
        out = out.withColumn(name, c.over(w))
    return out


def facets(df: DataFrame, fields: list[str], k: int = 3) -> DataFrame:
    """``| facets N`` — top-N values per field with hit counts
    (pipe_facets.go). Output: (field, value, hits)."""
    parts = []
    for f in fields:
        counted = (
            df.select(F.col(f).cast("string").alias("value"))
            .groupBy("value")
            .agg(F.count("*").alias("hits"))
            .withColumn("field", F.lit(f))
        )
        w = Window.partitionBy("field").orderBy(
            F.col("hits").desc(), F.col("value").asc()
        )
        parts.append(
            counted.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("field", "value", "hits")


# ---- filter family (filter_phrase.go, filter_prefix.go, filter_regexp.go,
# filter_range.go, filter_in.go, filter_sequence.go) --------------------
def phrase_filter(col: Column, phrase: str) -> Column:
    return col.contains(phrase)


def prefix_filter(col: Column, prefix: str) -> Column:
    return col.startswith(prefix)


def regexp_filter(col: Column, pattern: str) -> Column:
    return col.rlike(pattern)


def in_filter(col: Column, values: list) -> Column:
    return col.isin(*values)


def sequence_filter(col: Column, phrases: list[str]) -> Column:
    """All phrases occur in order (filter_sequence.go) — realized as a
    single regex with non-greedy gaps."""
    import re as _re

    pattern = ".*?".join(_re.escape(p) for p in phrases)
    return col.rlike(pattern)


# ------------------------------------------------------------------ round 3:
# remaining pipes/stats/filters (vendor/.../logstorage pipe_*.go coverage)

# additional stats functions (stats_*.go)
STATS_FUNCS.update(
    {
        "count_uniq": lambda c: F.count_distinct(c).cast("double"),
        "count_uniq_hash": lambda c: F.approx_count_distinct(c).cast("double"),
        "field_min": lambda c: F.min(c),
        "field_max": lambda c: F.max(c),
        "stdvar": lambda c: F.var_pop(c),
    }
)


def row_min(order_field: str, *fields: str) -> Column:
    """stats_row_min.go: the listed fields of the row minimizing
    ``order_field``."""
    return F.min_by(F.struct(*[F.col(f) for f in fields]), F.col(order_field))


def row_max(order_field: str, *fields: str) -> Column:
    return F.max_by(F.struct(*[F.col(f) for f in fields]), F.col(order_field))


def row_any(*fields: str) -> Column:
    return F.first(F.struct(*[F.col(f) for f in fields]))


def _pattern_to_regex(pattern: str) -> tuple[str, list[str]]:
    """LogsQL extract pattern → anchored regex with one group per
    ``<field>`` placeholder (pipe_extract.go pattern syntax: fields are
    non-greedy up to the next literal run)."""
    import re as _re

    parts = _re.split(r"(<[a-zA-Z_][a-zA-Z0-9_]*>)", pattern)
    regex, fields = "", []
    for i, p in enumerate(parts):
        if _re.fullmatch(r"<[a-zA-Z_][a-zA-Z0-9_]*>", p or ""):
            fields.append(p[1:-1])
            # non-greedy when a literal follows; greedy at the end
            nxt = parts[i + 1] if i + 1 < len(parts) else ""
            regex += "(.*?)" if nxt else "(.*)"
        else:
            regex += _re.escape(p)
    return regex, fields


def extract(df: DataFrame, src: str, pattern: str) -> DataFrame:
    """``| extract "text<field1>more<field2>"`` (pipe_extract.go pattern
    form) — one new column per placeholder."""
    regex, fields = _pattern_to_regex(pattern)
    out = df
    for i, f_name in enumerate(fields, start=1):
        out = out.withColumn(f_name, F.regexp_extract(F.col(src), regex, i))
    return out


def unpack_logfmt(df: DataFrame, src: str, fields: list[str]) -> DataFrame:
    """``| unpack_logfmt`` (pipe_unpack_logfmt.go): key=value pairs,
    values optionally double-quoted."""
    out = df
    for f_name in fields:
        quoted = F.regexp_extract(F.col(src), f'{f_name}="([^"]*)"', 1)
        bare = F.regexp_extract(F.col(src), f"{f_name}=([^\\s\"]+)", 1)
        out = out.withColumn(
            f_name, F.when(quoted != "", quoted).otherwise(bare)
        )
    return out


def pack_json(df: DataFrame, fields: list[str], dst: str = "json") -> DataFrame:
    """``| pack_json [fields]`` (pipe_pack_json.go)."""
    return df.withColumn(dst, F.to_json(F.struct(*[F.col(f) for f in fields])))


def split(df: DataFrame, src: str, sep: str, dst: str | None = None) -> DataFrame:
    """``| split (sep)`` (pipe_split.go) — field → array of substrings."""
    import re as _re

    return df.withColumn(dst or src, F.split(F.col(src), _re.escape(sep)))


def len_pipe(df: DataFrame, src: str, dst: str = "len") -> DataFrame:
    """``| len(field)`` (pipe_len.go)."""
    return df.withColumn(dst, F.length(F.col(src)).cast("long"))


def hash_pipe(df: DataFrame, src: str, dst: str = "hash") -> DataFrame:
    """``| hash(field)`` (pipe_hash.go — 64-bit hash of the value)."""
    return df.withColumn(dst, F.xxhash64(F.col(src)))


def format_pipe(df: DataFrame, fmt: str, dst: str) -> DataFrame:
    """``| format "text<field>..." as dst`` (pipe_format.go)."""
    import re as _re

    parts = _re.split(r"(<[a-zA-Z_][a-zA-Z0-9_]*>)", fmt)
    cols = []
    for p in parts:
        if _re.fullmatch(r"<[a-zA-Z_][a-zA-Z0-9_]*>", p or ""):
            cols.append(F.coalesce(F.col(p[1:-1]).cast("string"), F.lit("")))
        elif p:
            cols.append(F.lit(p))
    return df.withColumn(dst, F.concat(*cols) if cols else F.lit(""))


def replace_pipe(
    df: DataFrame, src: str, old: str, new: str, regex: bool = False
) -> DataFrame:
    """``| replace ("old", "new")`` / ``replace_regexp`` (pipe_replace*.go)."""
    import re as _re

    pat = old if regex else _re.escape(old)
    return df.withColumn(src, F.regexp_replace(F.col(src), pat, new))


def decolorize(df: DataFrame, src: str) -> DataFrame:
    """``| decolorize`` (pipe_decolorize.go) — strip ANSI escapes."""
    return df.withColumn(
        src, F.regexp_replace(F.col(src), r"\x1b\[[0-9;]*[a-zA-Z]", "")
    )


def copy_fields(df: DataFrame, mapping: list[tuple[str, str]]) -> DataFrame:
    """``| copy src as dst, ...`` (pipe_copy.go)."""
    out = df
    for src, dst in mapping:
        out = out.withColumn(dst, F.col(src))
    return out


def rename_fields(df: DataFrame, mapping: list[tuple[str, str]]) -> DataFrame:
    """``| rename src as dst, ...`` (pipe_rename.go)."""
    out = df
    for src, dst in mapping:
        out = out.withColumnRenamed(src, dst)
    return out


def delete_fields(df: DataFrame, fields: list[str]) -> DataFrame:
    """``| delete f1, f2`` (pipe_delete.go)."""
    return df.drop(*fields)


def fields_pipe(df: DataFrame, fields: list[str]) -> DataFrame:
    """``| fields f1, f2`` (pipe_fields.go) — keep only the listed."""
    return df.select(*fields)


def sample(df: DataFrame, fraction: float, seed: int = 1) -> DataFrame:
    """``| sample N`` (pipe_sample.go) — Bernoulli sample."""
    return df.sample(fraction=fraction, seed=seed)


def total_stats(
    df: DataFrame, order: list[tuple[str, bool]], aggs: dict[str, Column]
) -> DataFrame:
    """``| total_stats`` (pipe_total_stats.go) — running aggregates over
    the WHOLE stream in sort order (no partitioning)."""
    cols = [(F.col(c).desc() if d else F.col(c).asc()) for c, d in order]
    w = (
        Window.orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for name, c in aggs.items():
        out = out.withColumn(name, c.over(w))
    return out


# -------------------------------------------------------------- filters
def exact_filter(col: Column, value: str) -> Column:
    """``exact("v")`` (filter_exact.go) — whole-value equality."""
    return col == F.lit(value)


def word_filter(col: Column, word: str) -> Column:
    """bare-word filter (filter_word.go): the word bounded by
    non-word characters."""
    import re as _re

    return col.rlike(rf"(?:^|\W){_re.escape(word)}(?:\W|$)")


def ipv4_range_filter(col: Column, lo: str, hi: str) -> Column:
    """``ipv4_range(lo, hi)`` (filter_ipv4_range.go) — dotted-quad
    column within the inclusive numeric range."""

    def ip_num(ip: str) -> int:
        a, b, c, d = (int(x) for x in ip.split("."))
        return (a << 24) | (b << 16) | (c << 8) | d

    parts = F.split(col, r"\.")
    num = (
        F.element_at(parts, 1).cast("long") * F.lit(1 << 24)
        + F.element_at(parts, 2).cast("long") * F.lit(1 << 16)
        + F.element_at(parts, 3).cast("long") * F.lit(1 << 8)
        + F.element_at(parts, 4).cast("long")
    )
    valid = col.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    return valid & num.between(ip_num(lo), ip_num(hi))


# ------------------------------------------------------------------ round 6:
# pipe tranche (pipe_filter/replace_regexp/unpack_syslog/unpack_words/
# pack_logfmt/union/coalesce/drop_empty_fields/field_names/field_values/
# time_add/collapse_nums/json_array_*/generate_sequence) + stats
# rate/rate_sum/histogram/json_values + the filter long tail.


def filter_pipe(df: DataFrame, cond: Column) -> DataFrame:
    """``| filter <cond>`` (pipe_filter.go) — any filter mid-pipe. Pure
    pass-through to Catalyst so the predicate can still be pushed below
    earlier narrow pipes."""
    return df.filter(cond)


def replace_regexp_pipe(
    df: DataFrame, src: str, pattern: str, repl: str, limit: int = 0
) -> DataFrame:
    """``| replace_regexp ("re", "repl") [limit N]``
    (pipe_replace_regexp.go). limit=0 replaces every match JVM-side;
    limit>0 (replace only the first N matches) has no Catalyst builtin,
    so it runs as an Arrow-batched pandas UDF of re.sub(count=N) —
    the documented slow path, still vectorized per batch."""
    if limit <= 0:
        return df.withColumn(src, F.regexp_replace(F.col(src), pattern, repl))

    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rx = _re.compile(pattern)
    # Go's regexp replacement uses $1; Python's re.sub uses \1
    py_repl = _re.sub(r"\$(\d+)", r"\\\1", repl)

    def _sub(s):
        return s.map(
            lambda v: rx.sub(py_repl, v, count=limit) if v is not None else None
        )

    # real (non-string) annotations: `from __future__ import annotations`
    # above would otherwise stringify the hints pandas_udf dispatches on
    _sub.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return df.withColumn(src, pandas_udf(_sub, "string")(F.col(src)))


_SYSLOG_RFC5424 = (
    r"^<(\d+)>(\d+)\s+(\S+)\s+(\S+)\s+(\S+)\s+(\S+)\s+(\S+)\s+"
    r"(?:(-|\[.*?\])\s+)?(.*)$"
)
_SYSLOG_RFC3164 = (
    r"^<(\d+)>([A-Z][a-z]{2}\s+\d{1,2}\s\d{2}:\d{2}:\d{2})\s+(\S+)\s+"
    r"([^:\s\[]+)(?:\[(\d+)\])?:\s*(.*)$"
)


def unpack_syslog(df: DataFrame, src: str, prefix: str = "") -> DataFrame:
    """``| unpack_syslog`` (pipe_unpack_syslog.go): parse RFC5424
    (``<pri>ver ts host app proc msgid [sd] msg``) with RFC3164
    (``<pri>MMM dd hh:mm:ss host tag[pid]: msg``) fallback into typed
    fields; priority decomposes into facility = pri >> 3 and
    severity = pri & 7. One regexp_extract per output field — all
    JVM-side, one pass over the column."""
    c = F.col(src)
    is5424 = c.rlike(_SYSLOG_RFC5424)
    is3164 = ~is5424 & c.rlike(_SYSLOG_RFC3164)

    def g5424(i: int) -> Column:
        return F.regexp_extract(c, _SYSLOG_RFC5424, i)

    def g3164(i: int) -> Column:
        return F.regexp_extract(c, _SYSLOG_RFC3164, i)

    pri = (
        F.when(is5424, g5424(1)).when(is3164, g3164(1)).otherwise(F.lit(None))
    ).cast("int")
    out = (
        df.withColumn(prefix + "priority", pri)
        .withColumn(prefix + "facility", F.shiftright(pri, 3))
        .withColumn(prefix + "severity", pri.bitwiseAND(F.lit(7)))
        .withColumn(
            prefix + "timestamp",
            F.when(is5424, g5424(3)).when(is3164, g3164(2)),
        )
        .withColumn(
            prefix + "hostname",
            F.when(is5424, g5424(4)).when(is3164, g3164(3)),
        )
        .withColumn(
            prefix + "app_name",
            F.when(is5424, g5424(5)).when(is3164, g3164(4)),
        )
        .withColumn(
            prefix + "proc_id",
            F.when(is5424, g5424(6)).when(is3164, g3164(5)),
        )
        .withColumn(prefix + "msg_id", F.when(is5424, g5424(7)))
        .withColumn(
            prefix + "message",
            F.when(is5424, g5424(9)).when(is3164, g3164(6)),
        )
    )
    return out


def unpack_words(
    df: DataFrame, src: str, dst: str | None = None, drop_duplicates: bool = False
) -> DataFrame:
    """``| unpack_words`` (pipe_unpack_words.go): tokenize the field into
    an array of word tokens ([A-Za-z0-9_]+ runs, the VictoriaLogs
    tokenizer alphabet); ``drop_duplicates`` keeps the first occurrence
    of each token (array_distinct preserves first-seen order)."""
    words = F.filter(
        F.split(F.col(src), r"[^a-zA-Z0-9_]+"), lambda w: w != ""
    )
    if drop_duplicates:
        words = F.array_distinct(words)
    return df.withColumn(dst or src, words)


def _logfmt_value(c: Column) -> Column:
    needs_quote = c.rlike('[ ="]') | (c == "")
    escaped = F.regexp_replace(
        F.regexp_replace(c, r"\\", r"\\\\"), '"', r'\\"'
    )
    return F.when(
        needs_quote, F.concat(F.lit('"'), escaped, F.lit('"'))
    ).otherwise(c)


def pack_logfmt(df: DataFrame, fields: list[str], dst: str = "logfmt") -> DataFrame:
    """``| pack_logfmt [fields] as dst`` (pipe_pack_logfmt.go):
    space-separated k=v pairs, values quoted/escaped when they contain
    spaces, quotes or '='."""
    pairs = [
        F.concat(
            F.lit(f + "="),
            _logfmt_value(F.coalesce(F.col(f).cast("string"), F.lit(""))),
        )
        for f in fields
    ]
    return df.withColumn(dst, F.concat_ws(" ", *pairs))


def union_pipe(df: DataFrame, other: DataFrame) -> DataFrame:
    """``| union (<query>)`` (pipe_union.go) — rows of the other query
    appended; mismatched columns become nulls (by-name resolution)."""
    return df.unionByName(other, allowMissingColumns=True)


def coalesce_pipe(
    df: DataFrame, srcs: list[str], dst: str, default: str | None = None
) -> DataFrame:
    """``| coalesce(f1, f2, ...) [default d] as dst`` (pipe_coalesce.go):
    first non-empty value among srcs; empty string counts as missing,
    mirroring the log-row field model (a field absent from the frame is
    empty on every row, so it is skipped)."""
    cands = [
        F.when(
            F.col(s).isNotNull() & (F.col(s).cast("string") != ""), F.col(s)
        )
        for s in srcs
        if s in df.columns
    ]
    if default is not None:
        cands.append(F.lit(default))
    if not cands:
        cands = [F.lit("")]
    return df.withColumn(dst, F.coalesce(F.coalesce(*cands), F.lit("")))


def drop_empty_fields(df: DataFrame, fields: list[str] | None = None) -> DataFrame:
    """``| drop_empty_fields`` (pipe_drop_empty_fields.go). In the log
    row model an empty value IS an absent field; the DataFrame analog
    nulls out empty strings (so downstream field-presence logic sees
    them as missing) and drops listed columns that are empty on EVERY
    row. The all-empty probe is one partial-aggregated count job —
    metadata-sized output regardless of input size."""
    targets = fields or [
        f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
    ]
    out = df
    for f_name in targets:
        out = out.withColumn(
            f_name,
            F.when(F.col(f_name).cast("string") != "", F.col(f_name)),
        )
    counts = out.agg(
        *[F.count(F.col(f)).alias(f) for f in targets]
    ).first()
    dead = [f for f in targets if counts[f] == 0]
    return out.drop(*dead)


def field_names(df: DataFrame) -> DataFrame:
    """``| field_names`` (pipe_field_names.go): one row per field with
    the count of rows where it is non-empty. Single partial-aggregated
    pass; the pivot to rows happens on the 1-row aggregate via stack —
    no per-row Python, no second scan."""
    cols = df.columns
    agg = df.agg(
        *[
            F.count(
                F.when(F.col(c).cast("string") != "", F.lit(1))
            ).alias(c)
            for c in cols
        ]
    )
    stack_expr = "stack({n}, {args}) as (name, hits)".format(
        n=len(cols),
        args=", ".join(f"'{c}', `{c}`" for c in cols),
    )
    return agg.selectExpr(stack_expr)


def field_values(df: DataFrame, field: str, limit: int = 0) -> DataFrame:
    """``| field_values f`` (pipe_field_values.go): distinct values of
    the field with per-value hit counts."""
    out = df.groupBy(F.col(field).alias("value")).agg(
        F.count(F.lit(1)).alias("hits")
    )
    if limit > 0:
        out = out.orderBy(F.col("hits").desc(), F.col("value").asc()).limit(limit)
    return out


def time_add(df: DataFrame, field: str, offset_ms: int) -> DataFrame:
    """``| time_add <offset>`` (pipe_time_add.go): shift a timestamp
    field by a fixed duration (offset may be negative)."""
    src = F.col(field).cast("timestamp")  # tolerate TIMESTAMP_NTZ inputs
    return df.withColumn(
        field,
        F.timestamp_millis(F.unix_millis(src) + F.lit(int(offset_ms))),
    )


def collapse_nums(df: DataFrame, src: str, dst: str | None = None) -> DataFrame:
    """``| collapse_nums`` (pipe_collapse_nums.go): replace decimal and
    hex number runs with ``<N>`` so log lines with varying ids collapse
    to one pattern."""
    c = F.regexp_replace(F.col(src), r"0x[0-9a-fA-F]+", "<N>")
    c = F.regexp_replace(c, r"\d+", "<N>")
    return df.withColumn(dst or src, c)


def json_array_len(df: DataFrame, src: str, dst: str) -> DataFrame:
    """``| json_array_len(field) as dst`` (pipe_json_array_len.go)."""
    return df.withColumn(dst, F.json_array_length(F.col(src)).cast("long"))


def json_array_concat(
    df: DataFrame, src: str, dst: str, delimiter: str = ""
) -> DataFrame:
    """``| json_array_concat [delimiter] [from f] [as r]``
    (pipe_json_array_concat.go:136-147): join the ELEMENTS of the JSON
    array held in field ``f`` into one string separated by
    ``delimiter``; a non-array value yields the empty string."""
    arr = F.coalesce(
        F.from_json(F.col(src).cast("string"), "array<string>"),
        F.array().cast("array<string>"),
    )
    return df.withColumn(dst, F.array_join(arr, delimiter, ""))


def generate_sequence(spark, n: int) -> DataFrame:
    """``| generate_sequence N`` (pipe_generate_sequence.go): rows
    0..N-1 — spark.range IS the distributed generator."""
    return spark.range(n).select(F.col("id").cast("long").alias("seq"))


# stats funcs (stats_rate.go, stats_rate_sum.go, stats_json_values.go)
def rate_stats(step_seconds: float) -> Callable[[Column], Column]:
    """``rate()`` (stats_rate.go): matching-row count divided by the
    query step in seconds."""
    return lambda c: (F.count(c) / F.lit(float(step_seconds)))


def rate_sum_stats(step_seconds: float) -> Callable[[Column], Column]:
    """``rate_sum(f)`` (stats_rate_sum.go): sum(f) / step_seconds."""
    return lambda c: (F.sum(c) / F.lit(float(step_seconds)))


def json_values(*fields: str, sort_by: str | None = None, limit: int = 0) -> Column:
    """``json_values(f1, f2)`` (stats_json_values.go): every selected
    row marshalled as a JSON object, collected into one JSON array
    (optionally sorted by a field and limited)."""
    st = F.struct(*[F.col(f) for f in fields])
    arr = F.collect_list(st)
    if sort_by is not None:
        arr = F.array_sort(
            F.collect_list(F.struct(F.col(sort_by).alias("__k"), st.alias("__v")))
        )
        arr = F.transform(arr, lambda x: x["__v"])
    if limit > 0:
        arr = F.slice(arr, 1, limit)
    return F.concat(
        F.lit("["),
        F.array_join(F.transform(arr, lambda x: F.to_json(x)), ","),
        F.lit("]"),
    )


# VictoriaMetrics/metrics histogram.go vmrange buckets: 18 per decade,
# 10^-9..10^18, bucket strings produced by the same cumulative
# v *= 10^(1/18) float iteration (IEEE-identical in Python and Go).
_H_E10MIN, _H_E10MAX, _H_PER_DEC = -9, 18, 18
_H_BUCKETS = (_H_E10MAX - _H_E10MIN) * _H_PER_DEC


def _vmrange_strings() -> list[str]:
    out = []
    v = 10.0 ** _H_E10MIN
    start = f"{v:.3e}"
    mult = 10.0 ** (1.0 / _H_PER_DEC)
    for _ in range(_H_BUCKETS):
        v *= mult
        end = f"{v:.3e}"
        out.append(start + "..." + end)
        start = end
    return out


VMRANGES = _vmrange_strings()
VMRANGE_LOWER = f"0...{10.0 ** _H_E10MIN:.3e}"
VMRANGE_UPPER = f"{10.0 ** _H_E10MAX:.3e}...+Inf"


def vmrange_bucket(c: Column) -> Column:
    """The vmrange label a value falls into (metrics/histogram.go
    Update(): NaN and negatives ignored → null; 10^n edge values go to
    the lower bucket, Prometheus-`le` style)."""
    v = c.cast("double")
    idx_f = (F.log10(v) - F.lit(float(_H_E10MIN))) * F.lit(float(_H_PER_DEC))
    idx = F.floor(idx_f).cast("long")
    # exact power-of-10 edge → previous bucket
    idx = F.when((idx_f == idx.cast("double")) & (idx > 0), idx - 1).otherwise(idx)
    ranges = F.array(*[F.lit(s) for s in VMRANGES])
    return (
        F.when(v.isNull() | F.isnan(v) | (v < 0), F.lit(None))
        .when(idx_f < 0, F.lit(VMRANGE_LOWER))
        .when(idx_f >= _H_BUCKETS, F.lit(VMRANGE_UPPER))
        .otherwise(F.element_at(ranges, (idx + 1).cast("int")))
    )


def histogram_stats(
    df: DataFrame, by: list[str], field: str, alias: str = "histogram"
) -> DataFrame:
    """``histogram(f)`` (stats_histogram.go): vmrange bucket counts as a
    JSON array of {"vmrange","hits"}, buckets in ascending-range order.
    Two-level aggregation — bucket counts shuffle on (by, vmrange) with
    map-side partials, then one small struct-collect per group — never a
    per-group value list."""
    bucketed = df.withColumn("__vmrange", vmrange_bucket(F.col(field)))
    counts = (
        bucketed.filter(F.col("__vmrange").isNotNull())
        .groupBy(*by, "__vmrange")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    order = {VMRANGE_LOWER: -1, VMRANGE_UPPER: _H_BUCKETS}
    order.update({s: i for i, s in enumerate(VMRANGES)})
    order_arr = F.array(*[F.lit(s) for s in [VMRANGE_LOWER, *VMRANGES, VMRANGE_UPPER]])
    idx = F.array_position(order_arr, F.col("__vmrange"))
    ent = F.struct(
        idx.alias("__i"),
        F.to_json(
            F.struct(
                F.col("__vmrange").alias("vmrange"), F.col("__hits").alias("hits")
            )
        ).alias("__j"),
    )
    grouped = counts.groupBy(*by).agg(
        F.concat(
            F.lit("["),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(ent)), lambda x: x["__j"]),
                ",",
            ),
            F.lit("]"),
        ).alias(alias)
    )
    return grouped


# -------------------------------------------------------- filter tranche
def any_case_phrase_filter(col: Column, phrase: str) -> Column:
    """``i("phrase")`` (filter_any_case_phrase.go)."""
    return F.lower(col).contains(phrase.lower())


def any_case_prefix_filter(col: Column, prefix: str) -> Column:
    """``i("prefix*")`` (filter_any_case_prefix.go)."""
    return F.lower(col).startswith(prefix.lower())


def exact_prefix_filter(col: Column, prefix: str) -> Column:
    """``exact("p"*)`` (filter_exact_prefix.go)."""
    return col.startswith(prefix)


def substring_filter(col: Column, s: str) -> Column:
    """``contains("s")`` (filter_substring.go)."""
    return col.contains(s)


def contains_all_filter(col: Column, phrases: list[str]) -> Column:
    """``contains_all(p1, p2)`` (filter_contains_all.go)."""
    out = F.lit(True)
    for p in phrases:
        out = out & col.contains(p)
    return out


def contains_any_filter(col: Column, phrases: list[str]) -> Column:
    """``contains_any(p1, p2)`` (filter_contains_any.go)."""
    out = F.lit(False)
    for p in phrases:
        out = out | col.contains(p)
    return out


def eq_field_filter(col: Column, other: Column) -> Column:
    """``eq_field(other)`` (filter_eq_field.go)."""
    return col == other


def le_field_filter(col: Column, other: Column) -> Column:
    """``le_field(other)`` (filter_le_field.go)."""
    return col <= other


def len_range_filter(col: Column, lo: int, hi: int) -> Column:
    """``len_range(lo, hi)`` (filter_len_range.go) — inclusive value
    byte-length range."""
    return F.octet_length(col.cast("string")).between(lo, hi)


def string_range_filter(col: Column, lo: str, hi: str) -> Column:
    """``string_range(lo, hi)`` (filter_string_range.go): lo <= v < hi
    lexicographically."""
    return (col >= F.lit(lo)) & (col < F.lit(hi))


def day_range_filter(
    ts: Column,
    start_ms: int,
    end_ms: int,
    offset_ms: int = 0,
    include_start: bool = True,
    include_end: bool = True,
) -> Column:
    """``_time:day_range[start, end] offset d`` (filter_day_range.go):
    the time-of-day of (ts - offset), in ms since midnight UTC, within
    [start, end] (bracket type controls inclusivity)."""
    tod = F.pmod(
        F.unix_millis(ts.cast("timestamp")) - F.lit(int(offset_ms)),
        F.lit(86400000),
    )
    lo = tod >= start_ms if include_start else tod > start_ms
    hi = tod <= end_ms if include_end else tod < end_ms
    return lo & hi


def week_range_filter(
    ts: Column,
    start_day: int,
    end_day: int,
    offset_ms: int = 0,
    include_start: bool = True,
    include_end: bool = True,
) -> Column:
    """``_time:week_range[Mon, Fri]`` (filter_week_range.go): day of
    week of (ts - offset); days numbered Sunday=0..Saturday=6 as in
    time.Weekday."""
    shifted = F.timestamp_millis(
        F.unix_millis(ts.cast("timestamp")) - F.lit(int(offset_ms))
    )
    dow = F.dayofweek(shifted) - 1  # Spark: Sunday=1 → Go: Sunday=0
    lo = dow >= start_day if include_start else dow > start_day
    hi = dow <= end_day if include_end else dow < end_day
    return lo & hi


def value_type_filter(col: Column, type_name: str) -> Column:
    """``value_type(t)`` (filter_value_type.go). The reference matches
    the storage encoding of each block; the Spark analog classifies the
    VALUE's inferred type — uint, int, float, ipv4, iso8601, or string —
    which is the user-visible semantic of the filter."""
    s = col.cast("string")
    is_uint = s.rlike(r"^\d+$")
    is_int = s.rlike(r"^-\d+$")
    is_float = s.rlike(r"^-?\d+\.\d+([eE][+-]?\d+)?$")
    is_ipv4 = s.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    is_iso = s.rlike(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}")
    inferred = (
        F.when(s.isNull(), F.lit(None))
        .when(is_ipv4, F.lit("ipv4"))
        .when(is_uint, F.lit("uint"))
        .when(is_int, F.lit("int"))
        .when(is_float, F.lit("float"))
        .when(is_iso, F.lit("iso8601"))
        .otherwise(F.lit("string"))
    )
    return inferred == F.lit(type_name)


def pattern_match_filter(col: Column, pattern: str) -> Column:
    """``~"glob*pattern"`` (filter_pattern_match.go): glob with ``*``
    wildcards over the whole value."""
    import re as _re

    regex = "^" + ".*".join(_re.escape(p) for p in pattern.split("*")) + "$"
    return col.rlike(regex)


# ------------------------------------------------------------------ round 6b:
# stream pipes + filter completion (§2.9 long tail).


def canonical_stream(values: "dict[str, Column]") -> Column:
    """The canonical ``_stream`` string ``{f1="v1",f2="v2"}`` (sorted
    by field name, values escaped like strconv.Quote) from a mapping of
    field name → value Column. ONE home for the canonical form: the
    query-side ``set_stream_fields`` pipe and the ingest-side
    ``_stream_fields`` arg (streaming/logparsers.py) both build through
    here, so stream filters always match ingested identities."""
    parts = [
        F.concat(
            F.lit(f + '="'),
            # escape \ then " so a value containing quotes can't corrupt
            # the canonical form (VictoriaLogs quotes via strconv.Quote)
            F.regexp_replace(
                F.regexp_replace(
                    F.coalesce(values[f].cast("string"), F.lit("")),
                    r"\\",
                    r"\\\\",
                ),
                '"',
                '\\\\"',
            ),
            F.lit('"'),
        )
        for f in sorted(values)
    ]
    return F.concat(F.lit("{"), F.concat_ws(",", *parts), F.lit("}"))


def set_stream_fields(df: DataFrame, fields: list[str]) -> DataFrame:
    """``| set_stream_fields (f1, f2)`` (pipe_set_stream_fields.go):
    declare which fields form the log-stream identity — materialized
    via :func:`canonical_stream` so downstream stream filters /
    stream_context key on one column and a writer can partition/bucket
    by it."""
    return df.withColumn(
        "_stream", canonical_stream({f: F.col(f) for f in fields})
    )


def stream_escape(v: str) -> str:
    """The value escaping used by set_stream_fields, for building exact
    match conditions against the canonical _stream string."""
    return v.replace("\\", "\\\\").replace('"', '\\"')


def stream_context(
    df: DataFrame,
    cond: Column,
    before: int = 0,
    after: int = 0,
    stream_col: str = "_stream",
    ts_col: str | list[str] = "ts",
) -> DataFrame:
    """``<filter> | stream_context before N after M``
    (pipe_stream_context.go): every matching row plus the N rows before
    and M rows after it WITHIN ITS STREAM, time-ordered. Realized as a
    per-stream row_number + a range self-join on row numbers; both sides
    shuffle on the stream key only, and the match side is pre-filtered,
    so the join input is matches × (N+M+1), not rows²."""
    order = [ts_col] if isinstance(ts_col, str) else list(ts_col)
    w = Window.partitionBy(stream_col).orderBy(*order)
    numbered = df.withColumn("__rn", F.row_number().over(w))
    matches = numbered.filter(cond).select(
        F.col(stream_col).alias("__ms"), F.col("__rn").alias("__mrn")
    )
    joined = numbered.join(
        matches,
        (F.col(stream_col) == F.col("__ms"))
        & (F.col("__rn") >= F.col("__mrn") - before)
        & (F.col("__rn") <= F.col("__mrn") + after),
        "leftsemi",
    )
    return joined.drop("__rn")


def blocks_count(df: DataFrame) -> DataFrame:
    """``| blocks_count`` (pipe_blocks_count.go) counts storage blocks
    scanned; the parquet analog is the number of distinct input files
    feeding the scan (row-group stats are Spark-internal)."""
    return df.select(F.input_file_name().alias("__f")).agg(
        F.count_distinct("__f").alias("blocks_count")
    )


def block_stats(df: DataFrame) -> DataFrame:
    """``| block_stats`` (pipe_block_stats.go): per-(block, field)
    storage stats for the blocks feeding the query. The reference
    emits one row per column of every scanned block (field, type,
    values_size, rows, part_path); the parquet analog is one row per
    (file, row-group, column) read from the parquet FOOTERS of the
    scan's input files — metadata only, zero data pages read. Footers
    are opened EXECUTOR-side: the file list becomes a DataFrame and
    each task reads its own footers via pyarrow (Arrow-batched
    mapInPandas), so a thousand-part listing parallelizes instead of
    serializing through the driver."""
    spark = df.sparkSession
    files = sorted(set(df.inputFiles()))
    if not files:
        return spark.createDataFrame(
            [],
            "part_path string, block bigint, field string, type string, "
            "rows bigint, values_size bigint, uncompressed_size bigint, "
            "encodings string",
        )
    flist = spark.createDataFrame([(f,) for f in files], "part_path string")

    def _read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for path in pdf["part_path"]:
                local = path
                if local.startswith("file:"):
                    from urllib.parse import unquote as _unq

                    local = "/" + _unq(local[5:]).lstrip("/")
                md = pq.read_metadata(local)
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        rows.append(
                            (
                                path,
                                rg,
                                c.path_in_schema,
                                str(c.physical_type),
                                g.num_rows,
                                c.total_compressed_size,
                                c.total_uncompressed_size,
                                ",".join(str(e) for e in c.encodings),
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "part_path", "block", "field", "type", "rows",
                    "values_size", "uncompressed_size", "encodings",
                ],
            )

    return flist.repartition(min(len(files), 32)).mapInPandas(
        _read_footers,
        "part_path string, block bigint, field string, type string, "
        "rows bigint, values_size bigint, uncompressed_size bigint, "
        "encodings string",
    )


# -------------------------------------------------- filter combinators
def and_filter(*conds: Column) -> Column:
    """filter_and.go — conjunction."""
    out = F.lit(True)
    for c in conds:
        out = out & c
    return out


def or_filter(*conds: Column) -> Column:
    """filter_or.go — disjunction."""
    out = F.lit(False)
    for c in conds:
        out = out | c
    return out


def not_filter(cond: Column) -> Column:
    """filter_not.go — negation (null-safe: a null predicate is a
    non-match, so NOT of it matches)."""
    return ~F.coalesce(cond, F.lit(False))


def noop_filter() -> Column:
    """filter_noop.go — matches everything."""
    return F.lit(True)


def time_filter(ts: Column, start_ms: int, end_ms: int) -> Column:
    """``_time:[start, end]`` (filter_time.go) — inclusive range."""
    return F.unix_millis(ts.cast("timestamp")).between(start_ms, end_ms)


def stream_filter(stream_col: Column, label_conds: dict[str, str]) -> Column:
    """``_stream:{k1="v1",k2=~"re"}`` (filter_stream.go) over the
    canonical _stream string built by set_stream_fields: each condition
    matches its ``k="v"`` component (``~`` prefix on the value = regex)."""
    import re as _re

    out = F.lit(True)
    for k, v in label_conds.items():
        if v.startswith("~"):
            # anchor the field name on the preceding '{'/',' so a field
            # that is a suffix of another ("app" vs "webapp") can't
            # match the wrong component
            out = out & stream_col.rlike(f'[{{,]{_re.escape(k)}="{v[1:]}"')
        else:
            c = f'{k}="{stream_escape(v)}"'
            out = out & (
                stream_col.contains("{" + c) | stream_col.contains("," + c)
            )
    return out


def stream_id_filter(stream_col: Column, stream_ids: list[int]) -> Column:
    """``_stream_id:in(...)`` (filter_stream_id.go): the numeric stream
    identity here is the 64-bit hash of the canonical _stream string."""
    return F.xxhash64(stream_col).isin(*[int(s) for s in stream_ids])


def _ipv6_num(col: Column) -> Column:
    """128-bit IPv6 as a (hi, lo) long pair — assumes the FULL 8-group
    form (use expand first for ::-compressed input)."""
    g = F.split(col, ":")

    def quad(i0: int) -> Column:
        out = F.lit(0).cast("long")
        for i in range(i0, i0 + 4):
            out = out * F.lit(65536) + F.conv(F.element_at(g, i + 1), 16, 10).cast(
                "long"
            )
        return out

    return F.struct(quad(0).alias("hi"), quad(4).alias("lo"))


def ipv6_range_filter(col: Column, lo: str, hi: str) -> Column:
    """``ipv6_range(lo, hi)`` (filter_ipv6_range.go) — inclusive range
    over full-form IPv6 values."""

    def parse(s: str) -> tuple[int, int]:
        import ipaddress

        n = int(ipaddress.IPv6Address(s))
        return n >> 64, n & ((1 << 64) - 1)

    lo_hi, lo_lo = parse(lo)
    hi_hi, hi_lo = parse(hi)
    num = _ipv6_num(col)
    valid = col.rlike(r"^([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}$")
    ge_lo = (num["hi"] > lo_hi) | ((num["hi"] == lo_hi) & (num["lo"] >= lo_lo))
    le_hi = (num["hi"] < hi_hi) | ((num["hi"] == hi_hi) & (num["lo"] <= hi_lo))
    return valid & ge_lo & le_hi


def json_array_contains_any_filter(col: Column, values: list[str]) -> Column:
    """``json_array_contains_any(f, v1, v2)``
    (filter_json_array_contains_any.go): the field is a JSON array and
    contains at least one of the values."""
    arr = F.from_json(col, "array<string>")
    return F.arrays_overlap(
        F.coalesce(arr, F.array().cast("array<string>")),
        F.array(*[F.lit(v) for v in values]),
    )


def contains_common_case_filter(col: Column, phrase: str) -> Column:
    """filter_contains_common_case.go — case-insensitive contains
    optimized in the reference for common-case data; semantically
    identical to any_case here (Catalyst folds the lower())."""
    return any_case_phrase_filter(col, phrase)


def equals_common_case_filter(col: Column, value: str) -> Column:
    """filter_equals_common_case.go — case-insensitive equality."""
    return F.lower(col) == F.lit(value.lower())
