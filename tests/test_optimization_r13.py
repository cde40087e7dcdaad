"""Round-13 optimization regression tests.

Each test pins an internals change from the optimization round to the
behavior it must preserve:

- word_shingles binds its token array before per-position access (the
  O(tokens²) lambda-capture fix) — shingle output must be unchanged for
  normal, short, empty and null inputs;
- the MinHash pipeline computes signatures/band keys from the one-pass
  signature table — signature rows must equal the definitional
  min(md5(shingle ∥ '#' ∥ seed));
- connected_components solves small graphs on the driver — the driver
  union-find and the distributed min-label loop must agree;
- pairwise_cosine_within computes each group's pairs in one grouped-map
  pass (numpy Gram, exact fold re-check) — pairs must match the
  sequential fold, and a ragged vector must pair with nothing;
- load_table spreads single-split payload-table scans only where scoped.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from victoriametrics_spark.session import get_spark

    return get_spark("test-opt-r13")


def test_word_shingles_edge_cases(spark):
    from victoriametrics_spark.operators.text import tokens, word_shingles

    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b"),          # < n tokens -> empty
            (3, ""),             # empty text -> empty
            (4, None),           # null text -> empty/None, no crash
            (5, "  x   y  z "),  # whitespace runs
        ],
        "id long, text string",
    )
    out = {
        r["id"]: r["sh"]
        for r in df.select(
            "id", word_shingles(tokens(F.col("text")), 3).alias("sh")
        ).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []
    assert out[3] == []
    assert out[4] in ([], None)
    assert out[5] == ["x y z"]


def test_minhash_signatures_definition(spark):
    """Signature rows must equal min(md5(shingle ∥ '#' ∥ seed)) over the
    document's DISTINCT shingles — the definition the DuckDB oracle
    recomputes — regardless of the internal pipeline shape."""
    from victoriametrics_spark.operators.dedup import minhash_signatures

    text = "w1 w2 w3 w4 w2 w3 w4"
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    toks = text.split()
    shingles = {
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    }
    rows = minhash_signatures(df, "doc_id", "text", n=3, k=4).collect()
    assert len(rows) == 4
    for r in rows:
        expected = min(
            hashlib.md5(f"{s}#{r['seed']}".encode()).hexdigest()
            for s in shingles
        )
        assert r["mh"] == expected, (r["seed"], r["mh"], expected)


def test_connected_components_driver_vs_distributed(spark):
    from victoriametrics_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
        "id_a long, id_b long",
    )
    via_driver = {
        (r["id"], r["component"])
        for r in connected_components(pairs).collect()
    }
    via_loop = {
        (r["id"], r["component"])
        for r in connected_components(pairs, max_driver_edges=0).collect()
    }
    expected = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    assert via_driver == expected
    assert via_loop == expected


def test_pairwise_cosine_unrolled_matches_fold(spark):
    """The grouped-map pass must match the sequential fold — on uniform
    dims, and with a ragged vector, whose pairs have a null cosine under
    the fold's zip_with null-padding and so drop."""
    from victoriametrics_spark.operators.knn import pairwise_cosine_within

    rows = [
        (1, 0, [1.0, 0.0, 0.0, 0.0]),
        (2, 0, [1.0, 0.0, 0.0, 0.0]),
        (3, 0, [0.0, 1.0, 0.0, 0.0]),
        (4, 1, [0.5, 0.5, 0.5, 0.5]),
        (5, 1, [0.5, 0.5, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in pairwise_cosine_within(
            df, "label", tau=0.9, vec_col="embedding", id_col="vec_id"
        ).collect()
    }
    assert got == {(1, 2): 1.0, (4, 5): 1.0}

    ragged = rows + [(6, 0, [1.0, 0.0])]  # dim 2 in a dim-4 corpus
    df2 = spark.createDataFrame(
        ragged, "vec_id long, label int, embedding array<double>"
    )
    got2 = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in pairwise_cosine_within(
            df2, "label", tau=-2.0, vec_col="embedding", id_col="vec_id"
        ).collect()
    }
    # pairs touching the ragged vector produce a null cosine (dropped by
    # the tau filter), exactly as the pure-fold formulation did
    assert not any(6 in k for k in got2)
    assert got2[(1, 2)] == 1.0


def test_scan_spreading_scope(spark):
    from victoriametrics_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.1"
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")
    docs_off = load_table(spark, sf_dir, "documents", spread=False)
    # payload table spreads beyond the single input split...
    assert docs.rdd.getNumPartitions() > 1
    # ...sample tables keep the plan-audited single-split scan...
    assert ev.rdd.getNumPartitions() == 1
    # ...and the bit-exactness opt-out is honored
    assert docs_off.rdd.getNumPartitions() == 1
    # spreading must not change the row multiset
    a = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in docs_off.select("doc_id").collect())
    assert a == b


def test_duplicate_passage_pairs_single_shuffle_formulation(spark):
    """The one-gram-shuffle formulation (per-doc array_distinct hashes +
    shared gram-hash repartition + count(*)) must reproduce the
    definitional explode+global-distinct+count_distinct rows exactly,
    including the max_gram_docs viral-gram cap."""
    from victoriametrics_spark.operators.dedup import (
        duplicate_passage_pairs,
    )
    from victoriametrics_spark.operators.text import tokens, word_shingles

    # docs 1/2 share passage X (two overlapping 4-gram windows); doc 3
    # shares one window with them; "v v v v v" is a viral gram present
    # in every doc and must be dropped by max_gram_docs=2
    base = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, base + " v v v v"),
        (2, base + " extra tail v v v v"),
        (3, "quick brown fox jumps elsewhere v v v v"),
        (4, "completely different text with no overlap v v v v"),
        (5, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in duplicate_passage_pairs(
            df, n=4, min_shared=1, max_gram_docs=2
        ).collect()
    }

    # definitional reference: global explode+distinct, count FIRST,
    # band-filter, semi-join, count_distinct — the pre-restructure shape
    grams = (
        df.select(
            F.col("doc_id").alias("id"),
            F.explode(word_shingles(tokens(F.col("text")), 4)).alias("__g"),
        )
        .select("id", F.xxhash64("__g").alias("__gh"))
        .distinct()
    )
    band = (
        grams.groupBy("__gh")
        .agg(F.count("*").alias("__d"))
        .filter((F.col("__d") >= 2) & (F.col("__d") <= 2))
        .select("__gh")
    )
    buckets = (
        grams.join(band, "__gh", "left_semi")
        .groupBy("__gh")
        .agg(F.collect_set("id").alias("ids"))
    )
    pairs = (
        buckets.select("__gh", F.explode("ids").alias("id_a"), "ids")
        .select("__gh", "id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    want = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in pairs.groupBy("id_a", "id_b")
        .agg(F.count_distinct("__gh").cast("double").alias("n_shared"))
        .collect()
    }
    assert got == want
    # the viral "v v v v" gram (4 docs) and "quick brown fox jumps"
    # (3 docs) are capped away; only docs 1/2's genuine shared passage
    # remains — 5 of its 6 grams survive the cap
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 5.0


def test_source_ngram_overlap_single_shuffle_formulation(spark):
    """The per-doc-distinct + gram-hash-repartition formulation must
    reproduce the definitional global-distinct rows exactly (sizes,
    shared counts and jaccard)."""
    from victoriametrics_spark.operators.dedup import source_ngram_overlap
    from victoriametrics_spark.operators.text import tokens, word_shingles

    rows = [
        (1, "s1", "alpha beta gamma delta epsilon"),
        (2, "s1", "alpha beta gamma delta zeta"),  # within-source dupes
        (3, "s2", "alpha beta gamma delta epsilon"),
        (4, "s3", "nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sorted(
        tuple(r) for r in source_ngram_overlap(df, n=4, text_col="text").collect()
    )

    gs = (
        df.select(
            F.col("source").alias("g"),
            F.explode(word_shingles(tokens(F.col("text")), 4)).alias("s"),
        )
        .select("g", F.xxhash64("s").alias("h"))
        .distinct()
    )
    sizes = gs.groupBy("g").agg(F.count("*").alias("n"))
    a, b = gs.alias("a"), gs.alias("b")
    shared = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.g") < F.col("b.g")))
        .groupBy(F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b"))
        .agg(F.count("*").alias("shared_grams"))
    )
    sa = sizes.select(F.col("g").alias("source_a"), F.col("n").alias("grams_a"))
    sb = sizes.select(F.col("g").alias("source_b"), F.col("n").alias("grams_b"))
    want = sorted(
        tuple(r)
        for r in shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("grams_a").cast("long").alias("grams_a"),
            F.col("grams_b").cast("long").alias("grams_b"),
            F.col("shared_grams").cast("long").alias("shared_grams"),
            F.round(
                F.col("shared_grams")
                / (F.col("grams_a") + F.col("grams_b") - F.col("shared_grams")),
                6,
            ).alias("jaccard"),
        )
        .collect()
    )
    assert got == want
    # s1 holds 3 distinct grams (docs 1+2 overlap within-source), s2
    # holds 2, both of s2's appear in s1
    assert any(
        r[0] == "s1" and r[1] == "s2" and r[2] == 3 and r[3] == 2 and r[4] == 2
        for r in got
    )
