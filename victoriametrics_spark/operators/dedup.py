"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the whole point of these shapes at 100 TB):
- exact dedup is one hash-shuffle on the content key;
- all-pairs Jaccard is the *verification* primitive — quadratic, only ever
  run on LSH candidate buckets (or small corpora);
- MinHash+LSH is the scale path: shingle→K minhashes→band keys→bucket
  join; cost is linear in corpus size plus bucket-local pair generation.
  MinHash values are min(md5(shingle ∥ seed)) *strings* — fixed-length
  lowercase hex compares identically to the numeric hash order, and md5
  exists verbatim in the DuckDB oracle, so correctness is checkable
  end-to-end.
- SimHash (64-bit sign-aggregated token hashes) gives O(n) near-dup
  clustering by hamming distance on one BIGINT column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from victoriametrics_spark.operators.text import tokens, word_shingles


def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per exact content key (hash-groupBy).

    The key is ``xxhash64`` of the \\x1f-joined content columns (r14:
    replaced the md5 hex string — same group-by-content semantics up
    to hash collision, but the window shuffle partitions on an 8-byte
    long instead of a 32-char string and the (key, id) sort compares
    longs)."""
    key = F.xxhash64(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))
    w = Window.partitionBy(key).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingle_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """One row per distinct (id, shingle).

    The distinct is computed per document map-side (``array_distinct``
    over the doc's own shingle array) instead of a global
    explode+distinct: a (id, shingle) set is distinct globally iff it is
    distinct within each id, so the result is identical and the
    corpus-sized distinct shuffle disappears — the explode output is
    already unique."""
    return shingle_arrays(df, id_col, text_col, n).select(
        "id", F.explode("sh").alias("s")
    )


def shingle_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sh) — each document's DISTINCT shingle set as one array row.

    Map-only (no explode, no shuffle): the per-doc array is the unit the
    MinHash/LSH pipeline actually consumes, so keeping it packed lets
    signatures, band keys and exact-Jaccard verification all run inside
    whole-stage codegen on the document's own row. Docs with no shingle
    (< n tokens) keep an empty array.

    The ``explode(array(...))`` wrapper is a Generate barrier:
    CollapseProject would otherwise inline this expensive expression
    into every downstream reference (signature lambdas reference the
    shingle set k times → k tokenizations per doc), but projections do
    not collapse through a Generate, so ``sh`` stays a plain attribute
    downstream. One array in → one row out: semantically a no-op."""
    sh = F.array_distinct(word_shingles(tokens(F.col(text_col)), n))
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.array(sh)).alias("sh")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing ≥1 shingle (inverted-
    index join). Quadratic in bucket size — the verification baseline."""
    sh = shingle_rows(df, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select(
        F.col("id_a"), F.col("id_b"), F.round("jaccard", 6).alias("jaccard")
    )


def _sig_table(
    df: DataFrame, id_col: str, text_col: str, n: int, k: int
) -> DataFrame:
    """(id, mhs) — the signature table:
    mhs[i] = min(md5(shingle ∥ '#' ∥ seed=i)) over the doc's DISTINCT
    shingle set.

    Shape: one corpus scan, one tokenize+shingle pass, the k md5s as
    whole-stage-codegen expressions over exploded (id, shingle) rows
    (a higher-order-function fold over the packed array would run them
    interpreted — measured ~25% slower), then ONE doc-keyed aggregation
    of the k minimums; the md5 work happens in the partial (map-side)
    aggregate, so the exchange ships k hex strings per doc and every
    downstream consumer replays it as ReusedExchange. Docs without
    shingles (< n tokens) vanish in the explode, exactly as they had no
    signature rows before."""
    sh_rows = shingle_arrays(df, id_col, text_col, n).select(
        "id", F.explode("sh").alias("s")
    )
    mins = [
        F.min(
            F.md5(F.concat(F.col("s"), F.lit(f"#{i}")).cast("binary"))
        ).alias(f"__m{i}")
        for i in range(k)
    ]
    g = sh_rows.groupBy("id").agg(*mins)
    return g.select(
        "id",
        F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("mhs"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 9,
) -> DataFrame:
    """(id, seed, minhash) — minhash = min(md5(shingle ∥ '#' ∥ seed)).

    Derived from the packed one-pass signature table; identical rows to
    the former explode-by-seed + groupBy(id, seed) formulation."""
    sig = _sig_table(df, id_col, text_col, n, k)
    return sig.select(
        "id", F.posexplode("mhs").alias("seed", "mh")
    )


def _band_rows(sig_arrays: DataFrame, k: int, band_size: int) -> DataFrame:
    """(id, band, bkey) derived map-side from the packed signature:
    band b's key is the sorted '|'-join of seeds [b·band_size,
    (b+1)·band_size) — exactly what groupBy(id, band) +
    sort(collect_list) produced, without the aggregation shuffle."""
    n_bands = (k + band_size - 1) // band_size
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.array_join(
                F.array_sort(
                    F.slice(F.col("mhs"), b * band_size + 1, band_size)
                ),
                "|",
            ).alias("bkey"),
        ),
    )
    return sig_arrays.select(
        "id", F.explode(bands).alias("__b")
    ).select("id", F.col("__b.band").alias("band"), F.col("__b.bkey").alias("bkey"))


def _pairs_from_bands(banded: DataFrame) -> DataFrame:
    """Self-join band rows on (band, bkey): docs sharing any band key
    become candidate pairs (distinct).

    The shuffle_hash hint makes both sides Exchange-hashpartitioned on
    the band key; the two subtrees are canonically identical, so the
    physical planner replaces the second with a ReusedExchange — the
    shingle→signature→band computation runs ONCE (a broadcast build
    side would re-execute it). At 100 TB that is also the right join:
    both sides are the same size (never broadcastable) and the hash
    build per partition is band-bucket sized, with AQE skew-split
    covering viral band keys."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _exact_jaccard_for_pairs(
    base: DataFrame, cands: DataFrame
) -> DataFrame:
    """(id_a, id_b, __j) exact shingle Jaccard for the candidate pairs;
    pairs sharing no shingle produce no row. Shared by the verified
    pair pipeline and the estimate audit so collision/alias handling
    can never diverge between them.

    Array formulation: each side's DISTINCT shingle set joins in as one
    packed array row keyed on the doc id, and the intersection size is
    ``size(array_intersect(...))`` computed inside codegen — no shingle
    explode, no per-shingle join, no (id_a, id_b) count shuffle. Pairs
    sharing no shingle are dropped by the ``inter >= 1`` filter exactly
    as the former inner join on the shingle value dropped them.

    ``base`` is any (id, sh) frame; the minhash pipeline passes the
    map-only ``shingle_arrays`` frame — the attach sides then shuffle
    packed arrays straight off the scan with no aggregation, and the
    second side reuses the first side's exchange (same subtree, same
    key)."""
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("__sha"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("__shb"))
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    # shuffle_hash on both array sides: their exchanges hash the same
    # base subtree on the same key (id), so the second is a
    # ReusedExchange — the corpus is scanned/shingled once and shuffled
    # once for both attach joins, instead of two broadcast builds each
    # re-running the tokenize+shingle pass
    return (
        cands.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .withColumn("__i", inter)
        .filter(F.col("__i") >= 1)
        .withColumn(
            "__j",
            F.col("__i")
            / (F.size("__sha") + F.size("__shb") - F.col("__i")),
        )
        .select("id_a", "id_b", "__j")
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 9,
    band_size: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH candidates, then exact-Jaccard verification — the
    standard scale pipeline (linear shuffle + bucket-local verify).

    Everything hangs off the one-pass signature table (_sig_table):
    the corpus is scanned and shingled ONCE, aggregated once per doc,
    and that exchange is replayed (ReusedExchange) by the band-bucket
    self-join and both verification attach joins — the remaining
    shuffles are the candidate distinct and the two id-keyed attach
    joins, whose array side is the map-only shingle frame shuffled once
    and reused. Executed-plan result (plans/r13): 13 Exchange / 6
    corpus scans in the row formulation → ONE corpus scan (the spread
    repartition exchange is itself replayed by the signature and
    attach subtrees), 3 ReusedExchange, one md5 pass."""
    sig = _sig_table(df, id_col, text_col, n, k)
    cands = _pairs_from_bands(_band_rows(sig, k, band_size))
    out = _exact_jaccard_for_pairs(
        shingle_arrays(df, id_col, text_col, n), cands
    ).filter(
        F.col("__j") >= threshold
    )
    return out.select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash: per token, hash bits vote ±1; sign → bit.

    ``hash_fn="xxhash64"`` (default, fastest JVM path, up to 64 bits) or
    ``"md5"`` — top 15 hex chars of md5 parsed as a 60-bit integer, which
    DuckDB reproduces verbatim (``('0x' || substr(md5(t),1,15))::BIGINT``),
    making the whole pipeline oracle-checkable; use ``bits=60`` with it.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    if hash_fn == "md5":
        if bits > 60:
            raise ValueError("md5 mode supports at most 60 bits")
        h = F.conv(
            F.substring(F.md5(F.col("t").cast("binary")), 1, 15), 16, 10
        ).cast("long")
    else:
        h = F.xxhash64(F.col("t"))
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("id").agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return agg.select(F.col("id"), sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance with RECALL-SOUND
    blocking: the hash is split into ``max_hamming + 1`` chunks, so by
    pigeonhole any pair within the radius shares at least one identical
    chunk and is found by one of the chunk-equality bucket joins. (The
    round-1/2 version blocked on a fixed 4 chunks, silently dropping
    pairs at distance > 3 — this generalization is the fix.)"""
    n_chunks = min(bits, max_hamming + 1)
    base, rem = divmod(bits, n_chunks)
    widths = [base + 1] * rem + [base] * (n_chunks - rem)
    offsets, off = [], 0
    for w_ in widths:
        offsets.append(off)
        off += w_

    sh = simhash(df, id_col, text_col, bits=bits, hash_fn=hash_fn)
    chunks = [
        F.shiftrightunsigned(F.col("simhash"), offsets[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1))
        .alias(f"c{i}")
        for i in range(n_chunks)
    ]
    blocked = sh.select("id", "simhash", *chunks)
    pairs = None
    for i in range(n_chunks):
        a = blocked.alias("a")
        b = blocked.alias("b")
        p = a.join(
            b,
            (F.col(f"a.c{i}") == F.col(f"b.c{i}")) & (F.col("a.id") < F.col("b.id")),
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.distinct()
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    max_driver_edges: int = 200_000,
) -> DataFrame:
    """(id, component) for every id in ``pairs``; component = the
    minimum id reachable through the pair graph — the standard way to
    turn near-dup PAIRS into dedup CLUSTERS (keep one doc per
    component).

    Iterative min-label propagation: each round joins labels to the
    symmetric edge list and takes the neighborhood minimum, converging
    in O(graph diameter) rounds. Near-dup graphs are piles of tiny
    cliques (diameter ≤ a few hops), so this beats pointer-doubling's
    extra shuffles in practice; ``localCheckpoint`` truncates the plan
    lineage each round so the driver side stays O(1) per iteration.
    Raises after ``max_iter`` rounds without convergence (pathological
    chain graphs — switch to pointer doubling if that ever fires)."""
    e = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    # materialize the (small) edge list once: every propagation round
    # joins against it, and without the checkpoint each round would
    # re-execute the full upstream pair-detection plan (LSH join,
    # within-cell cosine, ...) that produced it
    edges = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    # Near-dup pair graphs are usually minuscule next to the corpus
    # (only docs WITH a duplicate partner appear). Below
    # ``max_driver_edges`` solve union-find on the driver in one pass —
    # the distributed loop costs O(diameter) rounds of join+agg+count
    # jobs (~0.5s of fixed latency each) to compute the same
    # min-reachable-id labels. Components are identical by
    # construction: union-by-min-root IS min-label propagation run to
    # convergence. Above the threshold the distributed loop stands —
    # at 100 TB a pair explosion must never land on the driver.
    # ONE probe job instead of count-then-collect: pull at most
    # max_driver_edges+1 rows; an overflow row means "too big, go
    # distributed" without ever collecting the full explosion (the
    # checkpointed edge list is re-read, not recomputed, either way)
    rows = edges.limit(max_driver_edges + 1).collect()
    if len(rows) <= max_driver_edges:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            s, d = r["src"], r["dst"]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by MIN id so every root is its component's min
                if rs < rd:
                    parent[rd] = rs
                else:
                    parent[rs] = rd
        out = [(x, find(x)) for x in parent]
        spark = pairs.sparkSession
        src_type = edges.schema["src"].dataType
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [
                StructField("id", src_type, False),
                StructField("component", src_type, False),
            ]
        )
        return spark.createDataFrame(out, schema)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "component")
        new_labels = (
            msgs.unionByName(labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components: no convergence in {max_iter} rounds"
    )


def near_dup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Filter ``df`` to one canonical document per near-dup component
    (the minimum id), keeping every document that appears in no pair —
    the keep-list step that turns pair detection into an actual
    deduplicated corpus. The component frame is tiny relative to the
    corpus (only docs with a near-dup partner), so the join broadcasts."""
    comps = connected_components(pairs, id_a, id_b)
    return (
        df.join(
            F.broadcast(comps.withColumnRenamed("id", id_col)),
            id_col,
            "left",
        )
        .filter(
            F.col("component").isNull()
            | (F.col(id_col) == F.col("component"))
        )
        .drop("component")
    )


def duplicate_passage_pairs(
    df: DataFrame,
    n: int = 8,
    min_shared: int = 1,
    max_gram_docs: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-corpus duplicate-passage detection — the scalable
    approximation of exact-substring training-data dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better":
    their suffix-array 50-token matches ≈ long word-n-gram collisions).
    Returns (id_a, id_b, n_shared): document pairs sharing ≥
    ``min_shared`` DISTINCT word n-grams of length ``n``.

    Shape for 100 TB: documents meet ONLY through gram-hash buckets —
    (xxhash64(gram), doc_id) fixed-width rows are the SINGLE
    corpus-sized shuffle, and the corpus is scanned/tokenized/shingled
    ONCE: the per-gram document count rides a window aggregate over
    the same partitioned rows the doc-set collection consumes, so
    there is no second plan branch to recompute the grams (a count/
    semi-join formulation re-scans the corpus: the count branch prunes
    to the bare hash column, canonicalizes differently, and exchange
    reuse never fires — measured 2 Scan parquet and ~40% slower at a
    100k-doc corpus). Pair expansion happens per bucket.
    Precondition: ``id_col`` is unique per input row (one row per
    document). The per-doc ``array_distinct`` makes (id, gram) pairs
    globally distinct only under that invariant — duplicate-id rows
    would inflate the per-gram document count (the old global
    ``.distinct()`` collapsed them instead). Every corpus source in
    this repo satisfies it; callers with repeated ids must
    ``dropDuplicates([id_col])`` first.

    ``max_gram_docs`` drops grams present in MORE than that many docs
    (boilerplate/stop passages — Lee et al.'s same guard): a gram in k
    docs yields k² pairs, so one viral passage would otherwise produce
    a quadratic hot bucket. Dropped grams are boilerplate by
    definition; genuinely duplicated passages still pair through their
    other grams. The window buffers one gram's rows per group — fixed
    16-byte rows in a spilling buffer, filtered right after — which is
    far cheaper than the full second tokenize+shingle pass it
    replaces."""
    # per-doc DISTINCT gram hashes computed map-side (array_distinct
    # over the doc's own gram-hash array): an (id, gram) set is
    # globally distinct iff distinct within each id — the shingle_rows
    # proof — so the explode output IS the distinct (id, gh) set and
    # the former corpus-wide explode+distinct shuffle disappears.
    gh_arr = F.array_distinct(
        F.transform(
            word_shingles(tokens(F.col(text_col)), n),
            lambda s: F.xxhash64(s),
        )
    )
    grams = df.select(
        F.col(id_col).alias("id"), F.explode(gh_arr).alias("__gh")
    )
    # ONE corpus-sized shuffle: hash-partition by gram hash; the window
    # count, the cap filter and the doc-set collection all run inside
    # the stage that reads this exchange (hash(__gh) satisfies the
    # window's and the aggregate's clustering requirement). The former
    # shape shuffled the (id, gh) rows three times — global distinct,
    # band-count partials, the semi-join's left side — and scanned the
    # corpus twice (plans/r13/op_doc_duplicate_passages_mid.txt: 2
    # Scan parquet / 5 Exchange executed).
    g2 = grams.repartition("__gh")
    # count FIRST, cap-filter, THEN collect doc sets: collecting the
    # full id set per gram and sizing it afterwards would make one
    # reducer hold a viral gram's multi-million-doc ARRAY in
    # aggregation state before discarding it — the hot-key blowup the
    # cap exists to prevent. The count rides a hash aggregate over the
    # SAME repartition exchange (hash(__gh) satisfies the aggregate's
    # clustering requirement, so no exchange of its own) and joins
    # back sort-merge, where the viral gram's rows STREAM past the
    # one-row build side instead of being buffered: the r13 window
    # formulation (count(*) over partition by __gh) was
    # equivalent-and-fast but WindowExec materializes every row of the
    # current group before emitting, so a boilerplate gram in 10⁸ docs
    # meant one task buffering 10⁸ rows it was about to discard.
    # ``max("id")`` + the always-true isNotNull filter keep the id
    # column referenced in this branch: count(*) alone would let
    # ColumnPruning narrow the branch's exchange input to (__gh), the
    # two exchange subtrees would no longer canonicalize equal, and
    # ReusedExchange would silently give way to a SECOND corpus
    # tokenize+shingle scan (the r13-measured ~40% regression; id is
    # non-nullable so the filter never drops a row, but the aggregate
    # output is schema-nullable so the optimizer cannot fold it away).
    counts = (
        g2.groupBy("__gh")
        .agg(F.count("*").alias("__d"), F.max("id").alias("__mx"))
        .filter(
            (F.col("__d") >= 2)
            & (F.col("__d") <= max_gram_docs)
            & F.col("__mx").isNotNull()
        )
        .select("__gh")
    )
    buckets = (
        g2.join(counts, "__gh")
        .groupBy("__gh")
        .agg(F.collect_set("id").alias("ids"))
    )
    pairs = (
        buckets.select("__gh", F.explode("ids").alias("id_a"), "ids")
        .select("__gh", "id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    # (gh, id_a, id_b) rows are unique by construction (ids is a set,
    # one row per gh), so count(*) == count_distinct(gh); the plain
    # count keeps map-side partial aggregation and drops the two-phase
    # distinct machinery.
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("double").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 9,
    band_size: int = 3,
) -> DataFrame:
    """Index-quality audit for the MinHash sketch: for every LSH
    candidate pair, the signature's Jaccard ESTIMATE (fraction of
    matching components — the quantity LSH actually thresholds on at
    scale, when exact verification is too expensive) next to the exact
    shingle Jaccard and the absolute error. This is the measurement
    that justifies (or rejects) skipping the verify step / choosing k —
    run it on a sample before trusting estimate-only dedup at 100 TB.
    Returns (id_a, id_b, est_jaccard, jaccard, abs_err).

    Shape: candidate generation is the banded bucket-join (never
    all-pairs); the estimate attaches each side's packed k-component
    signature with one id-keyed join and compares components with a
    codegen ``zip_with`` — no per-seed row explode, no (id_a, id_b)
    count shuffle; the exact check joins only candidate pairs' packed
    shingle arrays."""
    sig = _sig_table(df, id_col, text_col, n, k)
    cands = _pairs_from_bands(_band_rows(sig, k, band_size))
    sa = sig.select(F.col("id").alias("id_a"), F.col("mhs").alias("__ma"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("mhs").alias("__mb"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("__ma"), F.col("__mb"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    est = (
        cands.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a", "id_b", (matches / F.lit(float(k))).alias("__est")
        )
    )
    true_j = _exact_jaccard_for_pairs(
        shingle_arrays(df, id_col, text_col, n), cands
    )
    return (
        est.join(true_j, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.round("__est", 6).alias("est_jaccard"),
            F.round(F.coalesce(F.col("__j"), F.lit(0.0)), 6).alias("jaccard"),
            F.round(
                F.abs(F.col("__est") - F.coalesce(F.col("__j"), F.lit(0.0))), 6
            ).alias("abs_err"),
        )
    )


def source_ngram_overlap(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Cross-corpus contamination matrix — for every pair of sources
    (corpora / dataset slices), the number of distinct word n-grams
    they share and the n-gram Jaccard. This is the data-mixing
    diagnostic run before combining corpora (how much of slice B is
    already in slice A?) and the corpus-level view of decontamination.
    Returns (source_a, source_b, grams_a, grams_b, shared_grams,
    jaccard), source_a < source_b.

    Shape for 100 TB: the corpus collapses to (xxhash64(gram), source)
    fixed-width rows — deduped per document map-side (array_distinct),
    then hash-partitioned by gram ONCE; the cross-document distinct,
    the self-join (both sides) and the per-source sizes all run on
    that single exchange (hash(h) satisfies clustering on (g, h), so
    the dedup aggregate needs no shuffle of its own and the join sides
    are ReusedExchange). Gram text never shuffles; a gram shared by k
    sources expands to C(k,2) pairs, bounded by #sources² per gram;
    output is #source-pairs rows."""
    gh_arr = F.array_distinct(
        F.transform(
            word_shingles(tokens(F.col(text_col)), n),
            lambda s: F.xxhash64(s),
        )
    )
    gs = (
        df.select(F.col(group_col).alias("g"), F.explode(gh_arr).alias("h"))
        .repartition("h")
        .dropDuplicates(["g", "h"])
    )
    sizes = gs.groupBy("g").agg(F.count("*").alias("n"))
    a = gs.alias("a")
    b = gs.alias("b")
    shared = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(
            F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b")
        )
        .agg(F.count("*").alias("shared_grams"))
    )
    sa = sizes.select(F.col("g").alias("source_a"), F.col("n").alias("grams_a"))
    sb = sizes.select(F.col("g").alias("source_b"), F.col("n").alias("grams_b"))
    return (
        shared.join(F.broadcast(sa), "source_a")
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
    )
