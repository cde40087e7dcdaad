"""Round-14 optimization pins: each rewritten operator is compared
against its r13 definitional formulation on real testdata."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from victoriametrics_spark.sources.tables import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _same_rows(a, b) -> None:
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_funnel_counts_matches_prefix_join_cascade(spark):
    """New one-pass per-user greedy fold == the old per-prefix
    min-join cascade (the definitional earliest-completion funnel)."""
    from victoriametrics_spark.operators.events import funnel_counts

    ev = load_table(spark, SF_DIR, "events")
    steps = ["view", "click", "purchase"]
    window_ms = 86_400_000

    # definitional formulation (the r13 shape, verbatim)
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    evf = ev.filter(F.col("event_type").isin(steps)).select(
        F.col("user_id"), F.col("event_type").alias("__step"), ms.alias("__ms")
    )
    cur = (
        evf.filter(F.col("__step") == steps[0])
        .groupBy("user_id")
        .agg(F.min("__ms").alias("__done"))
    )
    out_rows = [(1, steps[0], cur)]
    for k, step in enumerate(steps[1:], start=2):
        cur = (
            evf.filter(F.col("__step") == step)
            .join(cur, "user_id")
            .filter(
                (F.col("__ms") > F.col("__done"))
                & (F.col("__ms") - F.col("__done") <= window_ms)
            )
            .groupBy("user_id")
            .agg(F.min("__ms").alias("__done"))
        )
        out_rows.append((k, step, cur))
    ref = None
    for k, step, frame in out_rows:
        c = frame.agg(F.count("*").alias("n_users")).select(
            F.lit(k).cast("long").alias("step_idx"),
            F.lit(step).alias("step"),
            F.col("n_users").cast("long"),
        )
        ref = c if ref is None else ref.unionByName(c)

    got = funnel_counts(ev, steps, window_ms)
    _same_rows(got, ref)
    # sanity: monotone non-increasing prefix counts
    rows = {r["step_idx"]: r["n_users"] for r in got.collect()}
    assert rows[1] >= rows[2] >= rows[3]


def test_funnel_counts_single_scan_plan(spark):
    """The executed funnel plan scans the event source once (the old
    cascade re-executed every earlier prefix's subtree)."""
    from victoriametrics_spark.operators.events import funnel_counts

    ev = load_table(spark, SF_DIR, "events")
    df = funnel_counts(ev, ["view", "click", "purchase"], 86_400_000)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 1, final


def test_unigram_longkey_join_matches_string_join(spark):
    """The xxhash64-keyed vocabulary value-join must score identically
    to the definitional string join (collision verification degrades
    mismatched probes to the exact OOV treatment)."""
    from victoriametrics_spark.operators.text import (
        tokens,
        unigram_logprob_score,
    )

    docs = load_table(spark, SF_DIR, "documents")
    got = unigram_logprob_score(docs, vocab_size=1000)

    # definitional string-join formulation (r13 shape, verbatim)
    tok = docs.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("__t")
    )
    counts = tok.groupBy("__t").agg(F.count("*").alias("__c"))
    vocab_rows = (
        counts.orderBy(F.col("__c").desc(), F.col("__t").asc())
        .limit(1000)
        .collect()
    )
    denom = float(sum(r["__c"] for r in vocab_rows) + len(vocab_rows))
    vocab = spark.createDataFrame(
        [(r["__t"], r["__c"]) for r in vocab_rows], "__t string, __c long"
    )
    lp = -F.log((F.coalesce(F.col("__c"), F.lit(0)) + 1) / F.lit(denom))
    ref = (
        tok.join(F.broadcast(vocab), "__t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(lp), 6).alias("logprob_score"),
        )
    )
    _same_rows(got, ref)


def _bigram_reference(docs, vocab_size):
    """bigram_logprob_score(docs, vocab_size, lam=0.9) in its
    definitional all-string-join formulation (r13 shape)."""
    from victoriametrics_spark.operators.text import tokens

    spark = docs.sparkSession
    toks = tokens(F.col("text"))
    d = docs.select(F.col("doc_id"), toks.alias("__w")).filter(
        F.size("__w") >= 2
    )
    pairs = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("__w"), 1, F.size("__w") - 1).alias("prev"),
                F.slice(F.col("__w"), 2, F.size("__w") - 1).alias("cur"),
            )
        ).alias("__bg"),
    ).select(
        "doc_id",
        F.col("__bg.prev").alias("__prev"),
        F.col("__bg.cur").alias("__cur"),
    )
    tok = docs.select(F.col("doc_id"), F.explode(toks).alias("__t"))
    counts = tok.groupBy("__t").agg(F.count("*").alias("__c"))
    vocab_rows = (
        counts.orderBy(F.col("__c").desc(), F.col("__t").asc())
        .limit(vocab_size)
        .collect()
    )
    n_total = sum(r["__c"] for r in vocab_rows)
    v_sz = len(vocab_rows)
    vocab = spark.createDataFrame(
        [(r["__t"], r["__c"]) for r in vocab_rows], "__t string, __c long"
    )
    in_vocab_pairs = pairs.join(
        F.broadcast(vocab.select(F.col("__t").alias("__prev"))),
        "__prev",
        "left_semi",
    ).join(
        F.broadcast(vocab.select(F.col("__t").alias("__cur"))),
        "__cur",
        "left_semi",
    )
    bi_counts = in_vocab_pairs.groupBy("__prev", "__cur").agg(
        F.count("*").alias("__cbi")
    )
    j = (
        pairs.join(
            F.broadcast(vocab.select(F.col("__t").alias("__prev"),
                                     F.col("__c").alias("__cprev"))),
            "__prev", "left")
        .join(
            F.broadcast(vocab.select(F.col("__t").alias("__cur"),
                                     F.col("__c").alias("__ccur"))),
            "__cur", "left")
        .join(F.broadcast(bi_counts), ["__prev", "__cur"], "left")
    )
    p_bi = (F.coalesce(F.col("__cbi"), F.lit(0)) + 1) / (
        F.coalesce(F.col("__cprev"), F.lit(0)) + F.lit(float(v_sz))
    )
    p_uni = (F.coalesce(F.col("__ccur"), F.lit(0)) + 1) / F.lit(
        float(n_total + v_sz)
    )
    term = -F.log(F.lit(0.9) * p_bi + F.lit(0.1) * p_uni)
    ref = j.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(term), 6).alias("bigram_score"),
    )
    return ref


def test_bigram_indexkey_count_join_matches_string_joins(spark):
    """The vocab-index-pair bigram-count key (ip*V+ic, a bijection
    with the token pair) plus the xxhash64 vocabulary value-joins must
    score identically to the definitional all-string-join formulation
    (r13 shape, verbatim)."""
    from victoriametrics_spark.operators.text import bigram_logprob_score

    docs = load_table(spark, SF_DIR, "documents")
    got = bigram_logprob_score(docs, vocab_size=1000, lam=0.9)
    _same_rows(got, _bigram_reference(docs, 1000))


def test_bigram_sql_in_list_matches_isin_semantics(spark):
    """The single-string SQL IN list (one py4j call) must select the
    same rows as Column.isin over the same values, including quote- and
    backslash-bearing tokens, under either string-literal dialect."""
    from victoriametrics_spark.operators.text import _sql_in_list

    rows = [("a",), ("o'x",), ("b\\c",), ("plain",), ("miss",), (None,)]
    df = spark.createDataFrame(rows, "t string")
    vals = ["o'x", "b\\c", "plain", "zz"]
    ref = df.filter(F.col("t").isin(vals))
    key = "spark.sql.parser.escapedStringLiterals"
    for escaped in ("false", "true"):
        spark.conf.set(key, escaped)
        try:
            got = df.filter(F.expr(f"t IN ({_sql_in_list(vals)})"))
        finally:
            spark.conf.unset(key)
        _same_rows(got, ref)
        assert got.count() == 3


def _uses_in_set(df) -> bool:
    """Whether the in-vocab prefilter compiled to an InSet (not the
    broadcast semi-joins)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "INSET" in plan.upper() and "LeftSemi" not in plan


# 14 distinct tokens: a vocabulary above OptimizeIn's 10-element
# threshold, so the IN list becomes an InSet
_BIGRAM_DOCS = [
    (1, "a b a b c d a k l m"),
    (2, "b a b a c c n o p"),
    (3, "d c b a a b q r"),
    (4, "e f a b k n"),
]


def test_bigram_in_list_under_escaped_string_literals(spark):
    """Under spark.sql.parser.escapedStringLiterals=true the in-vocab
    IN list still compiles to an InSet and scores as the join
    formulation does."""
    from victoriametrics_spark.operators.text import bigram_logprob_score

    docs = spark.createDataFrame(
        [(i, t.replace("a", "o'x").replace("b", "b\\c")) for i, t in _BIGRAM_DOCS],
        "doc_id long, text string",
    )
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        got = bigram_logprob_score(docs, vocab_size=14, lam=0.9)
        assert _uses_in_set(got)
        _same_rows(got, _bigram_reference(docs, 14))
    finally:
        spark.conf.unset(key)
    assert got.count() == 4


def test_bigram_in_list_on_quote_or_backslash_token(spark):
    """A vocabulary token holding a quote or a backslash keeps the
    InSet prefilter and scores as the join formulation does."""
    from victoriametrics_spark.operators.text import bigram_logprob_score

    docs = spark.createDataFrame(
        [(i, t.replace("a", "o'x").replace("b", "b\\c")) for i, t in _BIGRAM_DOCS],
        "doc_id long, text string",
    )
    got = bigram_logprob_score(docs, vocab_size=14, lam=0.9)
    assert _uses_in_set(got)
    _same_rows(got, _bigram_reference(docs, 14))
    assert got.count() == 4


def test_boilerplate_xxhash_key_matches_md5_key(spark):
    """The xxhash64 line key must produce the same scrub as the former
    md5 hex key (both implement group-by-line up to hash collision)."""
    from victoriametrics_spark.operators.text import (
        remove_boilerplate_lines,
    )

    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "text",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("footer line\n")).otherwise(F.lit("")),
            F.regexp_replace(F.col("text"), " (data|value|table) ", "\n"),
        ),
    )
    got = remove_boilerplate_lines(docs, min_docs=3)

    parts = F.split(F.col("text"), "\n")
    lines = docs.select(
        "doc_id",
        F.size(parts).alias("__total"),
        F.posexplode(parts).alias("pos", "line"),
    ).withColumn("__h", F.md5(F.col("line").cast("binary")))
    boiler = (
        lines.groupBy("__h")
        .agg(F.count_distinct("doc_id").alias("__docs"))
        .filter(F.col("__docs") >= 3)
        .select("__h")
    )
    kept = lines.join(F.broadcast(boiler), "__h", "left_anti")
    ref = (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text"),
            F.count("*").alias("kept_lines"),
            F.first("__total").alias("__total"),
        )
        .select(
            "doc_id",
            "text",
            (F.col("__total") - F.col("kept_lines")).alias("removed_lines"),
            "kept_lines",
        )
    )
    _same_rows(got, ref)


def test_exact_dedup_xxhash_key_matches_md5_key(spark):
    """The xxhash64 content key must keep the same rows as the former
    md5 hex key (both implement group-by-content up to collision)."""
    from pyspark.sql.window import Window

    from victoriametrics_spark.operators.dedup import exact_dedup

    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "text", F.when(F.col("doc_id") % 5 == 0, F.lit("dup body")).otherwise(F.col("text"))
    )
    got = exact_dedup(docs, ["text"], "doc_id")

    key = F.md5(F.concat_ws("\x1f", F.col("text")).cast("binary"))
    w = Window.partitionBy(key).orderBy(F.col("doc_id").asc())
    ref = (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    _same_rows(got, ref)
    assert got.count() < docs.count()


def test_duplicate_passage_pairs_reuses_gram_exchange(spark):
    """The cap-count branch must consume the SAME gram-hash exchange
    (ReusedExchange), not a second corpus scan — the r13-measured 40%
    regression mode of count+join formulations."""
    from victoriametrics_spark.operators.dedup import duplicate_passage_pairs

    docs = load_table(spark, SF_DIR, "documents")
    df = duplicate_passage_pairs(docs, n=8, min_shared=1)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    final = plan.split("Initial Plan")[0]
    assert final.count("Scan parquet") == 1, final
    assert "ReusedExchange" in final, final
