"""Text analysis operators: tokenization, shingling, language ID,
quality scoring, fingerprinting.

Everything is pure Catalyst expressions — at 100 TB these run inside
whole-stage codegen with no Python boundary. Tokenization is the shared
primitive: whitespace split with empty-token filtering, identical to the
DuckDB oracle side (string_split_regex + list_filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokens, empties removed."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined); empty when < n tokens.

    The sequence bound is guarded: Spark's sequence(1, 0) would generate a
    *descending* range.

    ``toks`` is bound to a lambda variable via a single-element
    ``transform`` before any per-position access: higher-order-function
    lambdas re-evaluate captured expressions at EVERY invocation, so
    referencing a ``split()``-derived array from the per-shingle lambda
    costs O(tokens) regex splits per shingle — O(tokens²) per document
    (measured 9.7s → 0.85s on the sf0.1 shingle explode). The binding
    keeps the function a pure column expression usable on any
    intermediate, not just materialized columns.
    """

    def _over(w: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(w) - (n - 1))
        mk = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(w, i + j) for j in range(n)]
        )
        return F.when(F.size(w) >= n, F.transform(idx, mk)).otherwise(
            F.array().cast("array<string>")
        )

    return F.element_at(F.transform(F.array(toks), _over), 1)


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token statistics."""
    t = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(t).cast("double").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("double").alias("n_distinct"),
        F.round(
            F.try_divide(
                F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)),
                F.size(t),
            ),
            6,
        ).alias("avg_token_len"),
    )


def quality_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic heuristic quality score in [0,1]:
    0.4·lexical-diversity + 0.3·length-saturation + 0.3·alpha-ratio.

    The shape mirrors the usual LLM-corpus quality filters (length,
    diversity, character-class mix) while staying SQL-expressible.
    """
    t = tokens(F.col(text_col))
    n = F.size(t)
    diversity = F.try_divide(F.size(F.array_distinct(t)), n)
    length_sat = F.least(F.lit(1.0), n / F.lit(200.0))
    alpha = F.try_divide(
        F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z]", "")),
        F.length(F.col(text_col)),
    )
    score = 0.4 * diversity + 0.3 * length_sat + 0.3 * alpha
    return df.select(
        F.col(id_col),
        F.round(score, 6).alias("quality"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content fingerprints: exact md5 plus order-insensitive word-bag md5
    (classic bag-of-words near-dup key)."""
    t = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("binary")).alias("md5"),
        F.md5(F.array_join(F.array_sort(t), " ").cast("binary")).alias("wordbag_md5"),
    )


# Language-ID: tiny per-language stopword profiles (public common words).
# On real corpora this is the classic n-gram/stopword heuristic; scoring is
# deterministic with ties broken by language code.
_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "mit", "nicht"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我", "他", "这"],
}


def language_id(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Stopword-profile language ID: score = #tokens matching each profile;
    argmax with deterministic tie-break by language code."""
    t = tokens(F.lower(F.col(text_col)))

    def _matcher(words):
        # nb: a default-arg closure would change the lambda's arity, which
        # PySpark uses to decide how many lambda variables to bind
        return lambda x: x.isin(*words)

    scores = [
        F.size(F.filter(t, _matcher(words))).alias(f"s_{lang}")
        for lang, words in _PROFILES.items()
    ]
    scored = df.select(F.col(id_col), *scores)
    langs = sorted(_PROFILES)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in langs])
    pred = F.lit(None).cast("string")
    for lg in reversed(langs):  # earlier langs win ties → apply in reverse
        pred = F.when(F.col(f"s_{lg}") == best, F.lit(lg)).otherwise(pred)
    return scored.select(
        F.col(id_col),
        F.when(best > 0, pred).otherwise(F.lit("unknown")).alias("predicted_lang"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    RAG/training-data chunking primitive. Output: (id, chunk_id,
    chunk_text, n_tokens); chunk starts advance by ``size - overlap``
    and stop once the remaining tokens are covered (a final short chunk
    is emitted only when it adds uncovered tokens). Pure Catalyst
    (sequence + explode + slice + array_join): no shuffle at all — each
    input split chunks its own documents, so at 100 TB this is a
    map-only pass whose output partitioning follows the input."""
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    base = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("__toks"),
    ).withColumn("__n", F.size(F.col("__toks")))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("__n") - overlap - 1, F.lit(0)),
        F.lit(stride),
    )
    ex = base.filter(F.col("__n") > 0).select(
        id_col,
        "__toks",
        "__n",
        F.explode(starts).alias("__start"),
    )
    return ex.select(
        F.col(id_col),
        (F.col("__start") / stride).cast("long").alias("chunk_id"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("__start") + 1, size), " "
        ).alias("chunk_text"),
        F.least(F.lit(size), F.col("__n") - F.col("__start"))
        .cast("long")
        .alias("n_tokens"),
    )


# GPT-2-style pre-tokenizer pattern, restricted to syntax with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): the original's
# trailing-whitespace lookahead `\s+(?!\S)` is dropped (RE2 has no
# lookahead), which only changes how runs of trailing spaces group.
BPE_SPLIT_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_token_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token counting the way an LLM-data pipeline sizes documents:
    whitespace tokens AND a BPE-ish pre-tokenizer regex count (the
    GPT-2 split pattern, sans lookahead), plus their ratio — a cheap
    proxy for tokenizer cost per document. Pure ``regexp_count``
    column expressions: map-only, whole-stage codegen."""
    t = tokens(F.col(text_col))
    bpe = F.regexp_count(F.col(text_col), F.lit(BPE_SPLIT_PATTERN))
    return df.select(
        F.col(id_col),
        F.size(t).cast("double").alias("n_ws_tokens"),
        bpe.cast("double").alias("n_bpe_tokens"),
        F.round(F.try_divide(bpe, F.size(t)), 6).alias("bpe_per_word"),
    )


# PII patterns — kept to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB oracle): no lookaround, no backreferences.
# Redaction is ordered (emails first) so the later patterns match against
# already-redacted text and never double-count the same span.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\d{3}[-.]\d{3}[-.]\d{4}", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrub PII spans (emails, IPv4 addresses, phone-shaped numbers) —
    the standard pre-training scrubbing pass. Output: (id, n_email,
    n_ipv4, n_phone, redacted md5). Pure ``regexp_count`` +
    ``regexp_replace`` column expressions — whole-stage codegen, no
    Python, no shuffle; at 100 TB this is a map-only pass."""
    cur: Column = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("double").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select(
        F.col(id_col),
        *counts,
        F.md5(cur.cast("binary")).alias("redacted_md5"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word n-gram with an evaluation set (the GPT-3 appendix-C style
    n-gram-overlap check). Returns one row per contaminated training
    doc: (id, n_shared) where n_shared counts DISTINCT eval n-grams
    found in the doc.

    Shape for 100 TB: the eval side (benchmarks — thousands of docs,
    not billions) reduces to a DISTINCT n-gram set that is explicitly
    ``F.broadcast``; the train side explodes its n-grams map-side and
    the contamination join is a broadcast hash join — zero shuffle of
    training data. The distinct count runs AFTER the join, so the only
    shuffled rows are the contamination hits themselves (usually a
    vanishing fraction of the corpus), keyed on the train doc id.

    ``broadcast_eval=False`` is the escape hatch for an eval side too
    big to broadcast (~GBs of distinct n-grams): both sides key on
    ``xxhash64(gram)`` and meet in a shuffled hash/sort-merge join, so
    the train side ships fixed 16-byte (hash, doc_id) rows instead of
    gram text, and the gram equality check runs on longs. Identical
    results (the original grams are not needed — n_shared counts
    distinct grams, and xxhash64 collisions inside one doc's gram set
    are vanishingly rare and would only perturb a count by 1)."""
    sh_train = train.select(
        F.col(id_col), F.explode(word_shingles(tokens(F.col(text_col)), n)).alias("__g")
    )
    sh_eval = (
        eval_df.select(F.explode(word_shingles(tokens(F.col(text_col)), n)).alias("__g"))
        .distinct()
    )
    if not broadcast_eval:
        h_train = sh_train.select(
            F.col(id_col), F.xxhash64("__g").alias("__gh")
        )
        h_eval = sh_eval.select(F.xxhash64("__g").alias("__gh")).distinct()
        return (
            h_train.join(h_eval.hint("shuffle_merge"), "__gh")
            .groupBy(id_col)
            .agg(F.count_distinct("__gh").cast("double").alias("n_shared"))
        )
    # (r14: an xxhash64-keyed broadcast probe with equal-gram re-check
    # — the long-key trick that took the corpus-LM scoring joins 3x —
    # was proven row-identical here and measured a WASH at 1M docs
    # (min-of-3 alternating 2.781s vs 2.779s): with a benchmark-sized
    # eval set the broadcast relation is small enough that the string
    # probe never dominates, and the extra hash+re-check costs back
    # the probe win. Rejected; the plain string join stands.)
    return (
        sh_train.join(F.broadcast(sh_eval), "__g")
        .groupBy(id_col)
        .agg(F.count_distinct("__g").cast("double").alias("n_shared"))
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the data-mixing
    primitive (upweight/downweight corpus slices). A document is kept
    iff the first 4 hex chars of ``md5(id)`` fall below
    ``floor(rate·65536)``, so the decision is a pure function of the
    id: reproducible across runs, engines (the DuckDB oracle computes
    the identical md5), and cluster sizes — no RNG, no seed plumbing,
    no shuffle (map-only filter)."""

    def _thr(rate: float) -> str:
        # rate >= 1.0 must keep EVERY row: 'g' sorts above any 4-hex
        # key, while format(65536, '04x') would yield the 5-char
        # '10000' and the lexicographic compare would keep only ~6%.
        n = int(rate * 65536)
        if n >= 65536:
            return "g"
        return format(max(n, 0), "04x")

    thr = F.lit(_thr(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == stratum, F.lit(_thr(rate))).otherwise(thr)
    key = F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 4)
    return df.filter(key < thr)


def pack_chunks(
    df: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    strata_col: str | None = None,
) -> DataFrame:
    """Contiguous sequence packing: assign documents (kept whole, in
    ``id`` order) to training bins of ~``capacity`` tokens. A document
    lands in the bin where its exclusive running total starts, so a
    bin may overflow by < max-document-tokens — the streaming
    concat-without-splitting packing used for training shards, chosen
    over exact first-fit because it is a single window pass (exact
    first-fit needs a sequential reset, i.e. a stateful scan).
    Output per bin: (strata?, bin_id, n_docs, n_tokens, fill_ratio).

    At scale: one shuffle keyed on the stratum (or a single global
    ordering when ``strata_col`` is None — callers at 100 TB should
    pack per stratum/shard so each window partition is bounded)."""
    from pyspark.sql import Window

    part = [strata_col] if strata_col else []
    w = (
        Window.partitionBy(*part).orderBy(id_col)
        if part
        else Window.orderBy(id_col)
    )
    cum_excl = F.coalesce(
        F.sum(tokens_col).over(w) - F.col(tokens_col), F.lit(0)
    )
    binned = df.select(
        *part,
        F.col(id_col),
        F.col(tokens_col),
        F.floor(cum_excl / capacity).alias("bin_id"),
    )
    return binned.groupBy(*part, "bin_id").agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum(tokens_col).cast("double").alias("bin_tokens"),
        F.round(F.sum(tokens_col) / F.lit(float(capacity)), 6).alias("fill_ratio"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    "Scaling Language Models" §A1.1): per document, the fraction of
    n-gram occurrences taken by the most frequent n-gram
    (``top_ngram_frac``) and the fraction that are repeats of an
    earlier occurrence (``dup_ngram_frac``). Documents with fewer than
    ``n`` tokens produce no row.

    ZERO-shuffle formulation: a document's n-grams all live in its own
    row, so nothing needs the explode + two keyed aggregations that
    would shuffle every n-gram occurrence in the corpus. The per-doc
    counting runs as an Arrow-batched ``mapInPandas`` — the documented
    escape hatch, taken on MEASUREMENT (scripts/llmops_bench.py, 1M
    docs, local[32]): pure-Catalyst collection lambdas evaluate
    interpreted at ~78s, the explode formulation shuffles the corpus,
    the Arrow pass does neither. Rounding stays Spark-side (F.round,
    HALF_UP) so results are bit-identical to the DuckDB oracle.

    Token split is the ASCII ``\\s`` class ([ \\t\\n\\x0b\\f\\r]) to
    match Java/RE2 ``\\s+`` exactly (Python's str.split()/``re`` \\s is
    unicode-wide and would disagree on e.g. NBSP)."""
    import re as _re

    from pyspark.sql.types import (
        DoubleType,
        StructField,
        StructType,
    )

    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_field.name, id_field.dataType),
            StructField("top_raw", DoubleType()),
            StructField("dup_raw", DoubleType()),
        ]
    )
    ws = _re.compile("[ \t\n\x0b\f\r]+")

    def batches(it):
        import pandas as pd
        from collections import Counter

        for pdf in it:
            ids, tops, dups = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = [x for x in ws.split(t or "") if x]
                m = len(toks) - n + 1
                if m <= 0:
                    continue
                # n-grams counted as token TUPLES, not joined strings:
                # tokens are whitespace-free, so ' '.join is injective
                # and tuple equality == joined-string equality, without
                # constructing m new strings per doc
                c = Counter(zip(*(toks[j:] for j in range(n))))
                ids.append(i)
                tops.append(max(c.values()) / m)
                dups.append(1.0 - len(c) / m)
            yield pd.DataFrame(
                {id_col: ids, "top_raw": tops, "dup_raw": dups}
            )

    out = df.select(id_col, text_col).mapInPandas(batches, out_schema)
    return out.select(
        F.col(id_col),
        F.round("top_raw", 6).alias("top_ngram_frac"),
        F.round("dup_raw", 6).alias("dup_ngram_frac"),
    )


def c4_clean(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4-style corpus cleaning (Raffel et al. 2020, §2.2) — the
    line/document heuristics behind the C4 dataset:

    - keep only lines ending in terminal punctuation (. ! ? "),
    - drop lines with fewer than 3 words or containing "javascript",
    - drop documents with fewer than 5 sentences after cleaning,
      containing "lorem ipsum", or containing "{".

    Output: (id, total_lines, kept_lines, n_sentences, keep_doc,
    clean_md5). Pure array/regexp column expressions — whole-stage
    codegen, map-only, no shuffle: at 100 TB this runs at scan speed.
    """
    text = F.col(text_col)
    lines = F.split(text, "\n")
    kept = F.filter(
        lines,
        lambda ln: ln.rlike('[.!?"]$')
        & (F.size(F.split(F.trim(ln), " +")) >= 3)
        & ~F.lower(ln).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    n_sent = F.regexp_count(clean, F.lit("[.!?]"))
    keep_doc = (
        (n_sent >= 5)
        & ~F.lower(text).contains("lorem ipsum")
        & ~text.contains("{")
    )
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("total_lines"),
        F.size(kept).cast("long").alias("kept_lines"),
        n_sent.cast("long").alias("n_sentences"),
        keep_doc.alias("keep_doc"),
        F.md5(clean.cast("binary")).alias("clean_md5"),
    )


# Gopher stop-word test set (Rae et al. 2021, table A1 quality rules)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, §A1.1) — the
    word-level document filter used for MassiveText:

    - 50..100k words, mean word length in [3, 10],
    - symbol-to-word ratio (# or ...) <= 0.1,
    - >= 80% of words contain an alphabetic character,
    - >= 2 of the 8 Gopher stop words appear.

    Output: per-rule measurements plus the final keep verdict. Pure
    array-expression aggregations over the word list — map-only."""
    text = F.col(text_col)
    words = F.split(F.trim(text), " +")
    n_words = F.size(words).cast("long")
    mean_wlen = (
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).cast("double")
        / n_words
    )
    frac_alpha = (
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("double")
        / n_words
    )
    n_symbols = (
        F.regexp_count(text, F.lit("#")) + F.regexp_count(text, F.lit(r"\.\.\."))
    ).cast("double")
    symbol_ratio = n_symbols / n_words
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wlen >= 3.0)
        & (mean_wlen <= 10.0)
        & (symbol_ratio <= 0.1)
        & (frac_alpha >= 0.8)
        & (stop_hits >= 2)
    )
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        symbol_ratio.alias("symbol_word_ratio"),
        stop_hits.alias("stopword_hits"),
        keep.alias("keep_doc"),
    )


def _sql_str(s: str) -> str:
    """SQL string literal for ``s`` that reads back exactly under either
    setting of ``spark.sql.parser.escapedStringLiterals``: a hex binary
    literal cast to string, which constant-folds to a plain string
    literal."""
    return f"CAST(X'{s.encode().hex()}' AS STRING)"


def _sql_in_list(values: list[str]) -> str:
    """Comma-joined SQL literals for an IN (...) list.

    Column.isin() converts every element through its own py4j lit()
    round trip — measured ~1 ms/element of DRIVER time per plan build,
    i.e. tens of seconds for a 20k-hash membership set, dwarfing the
    query itself. One parsed SQL string carries the whole list across
    the gateway in a single call; the casts fold to literals and
    OptimizeIn still compiles the list to the same InSet."""
    return ",".join(_sql_str(v) for v in values)


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(r14 note: a map-side rebuild — boiler set collected to an InSet
    and each doc's line array filtered in place, no text shuffle — was
    built, proven row-identical, and MEASURED 1.75x SLOWER at 1M docs:
    the per-line membership probe runs in an interpreted array-filter
    lambda, which costs more than the posexplode + codegen broadcast
    anti-join it replaced; local shuffles of the re-assembly are nearly
    free. Rejected; this join shape stands.)

    Cross-document line-level dedup — the boilerplate scrub of
    CCNet (Wenzek et al. 2020 §3.1, paragraph-hash dedup) and
    RefinedWeb: a line whose exact content appears in ≥ ``min_docs``
    DISTINCT documents (navigation chrome, cookie banners, footers) is
    removed from every document; documents left with no lines are
    dropped. Returns (id, text, removed_lines, kept_lines).

    Shape for 100 TB: the distinct-doc count shuffles (xxhash64(line),
    doc_id) — fixed 16-byte rows, never the line TEXT itself (the
    64-bit key replaced the md5 hex string: half the shuffle row and a
    LONG-keyed anti probe — Spark's specialized long HashedRelation —
    with grouping semantics unchanged up to hash collision exactly as
    with md5); the boilerplate hash SET — lines repeated across ≥
    min_docs docs are a tiny fraction of a real corpus — comes back as
    an explicit ``F.broadcast`` to a left-anti hash join, so document
    text moves only in the final per-doc re-assembly shuffle (volume =
    output size). The per-doc line total rides the exploded rows as a
    constant column, so there is no second corpus scan or corpus-sized
    join to recover it."""
    parts = F.split(F.col(text_col), "\n")
    lines = df.select(
        F.col(id_col),
        F.size(parts).alias("__total"),
        F.posexplode(parts).alias("pos", "line"),
    ).withColumn("__h", F.xxhash64("line"))
    boiler = (
        lines.groupBy("__h")
        .agg(F.count_distinct(id_col).alias("__docs"))
        .filter(F.col("__docs") >= min_docs)
        .select("__h")
    )
    kept = lines.join(F.broadcast(boiler), "__h", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias(text_col),
            F.count("*").alias("kept_lines"),
            F.first("__total").alias("__total"),
        )
        .select(
            id_col,
            text_col,
            (F.col("__total") - F.col("kept_lines")).alias("removed_lines"),
            "kept_lines",
        )
    )


def unigram_logprob_score(
    df: DataFrame,
    vocab_size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-LM quality scoring — the oracle-checkable stand-in for
    CCNet's KenLM perplexity filter (Wenzek et al. 2020 §3.3: docs are
    ranked by LM score and the worst tail dropped). A unigram LM is fit
    on the corpus itself: the ``vocab_size`` most frequent tokens
    (ties → lexicographic) with Laplace smoothing
    ``p(tok) = (count + 1) / (N + V)`` (OOV → count 0), and every doc
    scores ``mean(-ln p(token))`` — high = surprising/low-quality
    relative to the corpus. Returns (id, n_tokens, logprob_score).

    Shape for 100 TB: pass 1 is one token-count aggregation (map-side
    partials); the fitted vocabulary is vocab_size rows — collected
    like IVF centroids and rebroadcast, so pass 2 is a map-only
    broadcast-join + per-doc aggregation (shuffle = one row per doc).

    The scoring join probes on ``xxhash64(token)`` instead of the
    token string: a LONG join key gives Spark's specialized
    LongHashedRelation (measured 3x on the 1M-doc scoring pass —
    6.0s -> 1.9s — over the UnsafeHashedRelation string probe), with
    the matched token re-checked for equality so a 64-bit collision
    of a probe token against a DIFFERENT vocab word degrades to the
    exact OOV treatment. Distinctness of the 1000 VOCAB hashes (the
    one case that could duplicate probe rows) is verified on the
    driver from the same collect that fits the vocabulary; a
    collision there falls back to the string join."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__t")
    )
    counts = tok.groupBy("__t").agg(F.count("*").alias("__c"))
    vocab_rows = (
        counts.orderBy(F.col("__c").desc(), F.col("__t").asc())
        .limit(int(vocab_size))
        .select("__t", "__c", F.xxhash64("__t").alias("__k"))
        .collect()
    )
    n_total = sum(r["__c"] for r in vocab_rows)
    denom = float(n_total + len(vocab_rows))
    spark = df.sparkSession
    lp = -F.log((F.coalesce(F.col("__c"), F.lit(0)) + 1) / F.lit(denom))
    if len({r["__k"] for r in vocab_rows}) == len(vocab_rows):
        vk = spark.createDataFrame(
            [(r["__k"], r["__t"], r["__c"]) for r in vocab_rows],
            "__k long, __vt string, __c0 long",
        )
        joined = (
            tok.withColumn("__k", F.xxhash64("__t"))
            .join(F.broadcast(vk), "__k", "left")
            .select(
                id_col,
                F.when(
                    F.col("__vt") == F.col("__t"), F.col("__c0")
                ).alias("__c"),
            )
        )
    else:  # vocab-internal 64-bit collision: exact string join
        vocab = spark.createDataFrame(
            [(r["__t"], r["__c"]) for r in vocab_rows],
            "__t string, __c long",
        )
        joined = tok.join(F.broadcast(vocab), "__t", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(lp), 6).alias("logprob_score"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the keyword-extraction /
    topic-tagging step of a training-data pipeline (and the scoring
    basis of classifier-free domain filters à la DSIR).

    tf = raw term count in the doc; idf = ln(N_docs / df_term);
    ranking by round(tf·idf, 6) DESC with term ASC tie-break — the
    rounding makes the rank reproducible across engines whose ln()
    differs in the last ulp. Returns (id, term, rank, tfidf).

    Shape for 100 TB: token explode → (doc, term) count with map-side
    combine, document frequencies as a second shuffle over terms
    (vocabulary-sized, orders of magnitude smaller than the corpus),
    one join tf⋈df_t on term, then the per-doc top-k as a bounded
    window — no driver materialization beyond the N_docs scalar."""
    import math as _math

    n_docs = df.count()
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("__tf"))
    dft = tf.groupBy("term").agg(F.count("*").alias("__df"))
    scored = tf.join(dft, "term").withColumn(
        "tfidf",
        F.round(
            F.col("__tf") * F.log(F.lit(float(n_docs)) / F.col("__df")), 6
        ),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(id_col, "term", "rank", "tfidf")
    )


def dsir_log_weights(
    df: DataFrame,
    target_filter: Column,
    vocab_size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR; Xie et al. 2023,
    arXiv:2302.03169) — unigram-feature variant: fit a smoothed unigram
    LM on the TARGET subset (rows matching ``target_filter``) and one
    on the full raw corpus, over the raw corpus' ``vocab_size`` most
    frequent tokens (ties → lexicographic; OOV → count 0, Laplace
    ``(c+1)/(N+V)`` like unigram_logprob_score). Each doc's log
    importance weight is ``Σ_tokens ln p_target(tok) − ln p_raw(tok)``
    — high = target-like; resample the corpus proportionally to pick
    pretraining data matching the target distribution. Returns
    (id, n_tokens, log_weight).

    Shape for 100 TB: two token-count aggregations (map-side partials,
    the target one pre-filtered), a vocab_size-row fit collected and
    rebroadcast, then a map-only broadcast join + per-doc sum —
    shuffle = one row per doc, same envelope as unigram_logprob."""
    import math as _math

    tok = df.select(
        F.col(id_col),
        target_filter.alias("__is_t"),
        F.explode(tokens(F.col(text_col))).alias("__t"),
    )
    counts = tok.groupBy("__t").agg(
        F.count("*").alias("__c_raw"),
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("__c_t"),
    )
    vocab_rows = (
        counts.orderBy(F.col("__c_raw").desc(), F.col("__t").asc())
        .limit(int(vocab_size))
        .collect()
    )
    v = len(vocab_rows)
    n_raw = sum(r["__c_raw"] for r in vocab_rows)
    n_t = sum(r["__c_t"] for r in vocab_rows)
    spark = df.sparkSession
    vocab = spark.createDataFrame(
        [(r["__t"], r["__c_raw"], r["__c_t"]) for r in vocab_rows],
        "__t string, __c_raw long, __c_t long",
    )
    lp_t = F.log(
        (F.coalesce(F.col("__c_t"), F.lit(0)) + 1) / F.lit(float(n_t + v))
    )
    lp_raw = F.log(
        (F.coalesce(F.col("__c_raw"), F.lit(0)) + 1)
        / F.lit(float(n_raw + v))
    )
    return (
        tok.join(F.broadcast(vocab), "__t", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum(lp_t - lp_raw), 6).alias("log_weight"),
        )
    )


def ccnet_quality_buckets(
    df: DataFrame,
    vocab_size: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's per-language quality bucketing (Wenzek et al. 2020 §4.3,
    arXiv:1911.00359): docs rank by corpus-LM score WITHIN each
    language and split into equal head/middle/tail terciles — head =
    lowest perplexity (most Wikipedia-like), the slice usually kept
    for pretraining. The LM is the same smoothed unigram fit as
    unigram_logprob_score; ranking uses the 6-decimal-rounded score
    with id tie-break so the split is reproducible. Returns
    (id, lang, logprob_score, bucket ∈ head|middle|tail).

    Shape for 100 TB: scoring is the unigram two-pass (broadcast
    vocabulary, shuffle = one row per doc); the tercile is one rank
    window PER LANGUAGE — languages rank in parallel, each window
    sees only its language's (doc, score) rows, presentation-thin
    next to the token stream. At extreme per-language cardinality
    swap the exact ntile for approx-percentile thresholds; the gate
    keeps the exact rank for oracle parity."""
    from pyspark.sql.window import Window

    scored = unigram_logprob_score(
        df, vocab_size=vocab_size, id_col=id_col, text_col=text_col
    ).join(df.select(id_col, lang_col), id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.col("logprob_score").asc(), F.col(id_col).asc()
    )
    tile = F.ntile(3).over(w)
    bucket = (
        F.when(tile == 1, "head")
        .when(tile == 2, "middle")
        .otherwise("tail")
    )
    return scored.select(
        id_col, lang_col, "logprob_score", bucket.alias("bucket")
    )


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.3,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based multilingual sampling (the mC4 / XLM-R mixing
    rule, Conneau et al. 2020 §3.1: sample languages ∝ p_l^alpha so
    low-resource languages are upweighted relative to their corpus
    share). Keep rate per stratum is the alpha-scaled share normalized
    so the largest stratum keeps everything:
    ``rate_l = (p_l^alpha) / max_m(p_m^alpha)``, ``p_l = n_l / N``.
    Rates are rounded to 6 decimals before thresholding so the md5
    keep-decision (same deterministic scheme as stratified_sample) is
    bit-identical across engines. Returns the kept rows plus their
    stratum keep_rate.

    Shape for 100 TB: pass 1 is one tiny groupBy(stratum) count —
    #languages rows, collected like IVF centroids; pass 2 is the
    map-only md5-threshold filter. Nothing shuffles document text."""
    import math as _math

    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n")).collect()
    total = float(sum(r["__n"] for r in counts))
    powed = {r[strata_col]: (r["__n"] / total) ** alpha for r in counts}
    mx = max(powed.values())
    # half-up quantization (not Python's banker's round) — matches SQL
    # round() so the oracle derives the identical thresholds
    rates = {
        k: _math.floor(v / mx * 1e6 + 0.5) / 1e6 for k, v in powed.items()
    }
    rate_col = F.lit(0.0)
    for stratum, rate in sorted(rates.items()):
        rate_col = F.when(
            F.col(strata_col) == stratum, F.lit(rate)
        ).otherwise(rate_col)
    kept = stratified_sample(
        df, rates, strata_col=strata_col, id_col=id_col, default_rate=0.0
    )
    return kept.withColumn("keep_rate", rate_col)


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap
    gibberish / encoding-noise detector (low entropy = repeated
    filler, pathological entropy = binary-in-text); used as a quality
    feature alongside the Gopher word-shape rules. Returns
    (id, n_chars, n_unique_chars, entropy_bits) with
    ``entropy_bits = -Σ p_c·log2(p_c)`` over code points, rounded to
    6 decimals. Empty documents produce no row.

    ZERO-shuffle: each document's characters live in its own row, so
    the per-doc histogram runs as an Arrow-batched ``mapInPandas``
    (the repetition_stats escape hatch — a per-codepoint explode
    would shuffle the entire corpus one row per character)."""
    import math as _math

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_field.name, id_field.dataType),
            StructField("n_chars", LongType()),
            StructField("n_unique_chars", LongType()),
            StructField("ent_raw", DoubleType()),
        ]
    )

    def batches(it):
        import pandas as pd
        from collections import Counter

        for pdf in it:
            ids, ns, us, es = [], [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                t = t or ""
                n = len(t)
                if n == 0:
                    continue
                c = Counter(t)
                # accumulate in sorted-char order so the float sum is
                # deterministic and matches the oracle's ORDER BY
                ent = -sum(
                    (v / n) * _math.log2(v / n)
                    for _, v in sorted(c.items())
                )
                ids.append(i)
                ns.append(n)
                us.append(len(c))
                es.append(ent)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_chars": ns,
                    "n_unique_chars": us,
                    "ent_raw": es,
                }
            )

    out = df.select(id_col, text_col).mapInPandas(batches, out_schema)
    return out.select(
        F.col(id_col),
        "n_chars",
        "n_unique_chars",
        F.round("ent_raw", 6).alias("entropy_bits"),
    )


def bigram_logprob_score(
    df: DataFrame,
    vocab_size: int = 1000,
    lam: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated-bigram corpus-LM scoring — one Markov order above
    unigram_logprob_score and the closer stand-in for CCNet's KenLM
    perplexity filter (Wenzek et al. 2020 §3.3; KenLM itself
    interpolates higher orders the same way). The LM is fit on the
    corpus: the ``vocab_size`` most frequent tokens (ties →
    lexicographic) with Laplace smoothing; bigram counts are kept only
    for pairs whose BOTH tokens are in-vocabulary (OOV → count 0).
    Every doc with ≥2 tokens scores
    ``mean over i≥2 of -ln(λ·p(w_i|w_{i-1}) + (1-λ)·p(w_i))`` where
    ``p(w_i|w_{i-1}) = (c_bi+1)/(c_prev+V)`` and
    ``p(w_i) = (c_i+1)/(N+V)``. Returns (id, n_bigrams, bigram_score).

    Shape for 100 TB: pass 1 is the token-count aggregation (map-side
    partials) collected to the vocab_size-row vocabulary and
    rebroadcast; the bigram-count table is ≤V² rows by construction
    (in-vocab pairs only) — broadcast at V=1000, a keyed join above
    that; pass 2 is map-only joins + one per-doc aggregation
    (shuffle = one row per doc). Document text never shuffles."""
    toks = tokens(F.col(text_col))
    # (prev, cur) pairs: positions 1..n-1 of the token array, zipped as
    # codegen slice+arrays_zip — the former transform(sequence(...))
    # higher-order function ran interpreted per document and measured
    # ~1.8x slower on the pass (0.70s -> 0.40s per 250k docs); rows are
    # identical (exceptAll 0/0). The size>=2 filter guards the slices
    # exactly as it guarded sequence(1, 0).
    d = df.select(F.col(id_col), toks.alias("__w")).filter(
        F.size("__w") >= 2
    )
    pairs = d.select(
        F.col(id_col),
        F.explode(
            F.arrays_zip(
                F.slice(F.col("__w"), 1, F.size("__w") - 1).alias("prev"),
                F.slice(F.col("__w"), 2, F.size("__w") - 1).alias("cur"),
            )
        ).alias("__bg"),
    ).select(
        id_col,
        F.col("__bg.prev").alias("__prev"),
        F.col("__bg.cur").alias("__cur"),
    )

    tok = df.select(F.col(id_col), F.explode(toks).alias("__t"))
    counts = tok.groupBy("__t").agg(F.count("*").alias("__c"))
    vocab_rows = (
        counts.orderBy(F.col("__c").desc(), F.col("__t").asc())
        .limit(int(vocab_size))
        .select("__t", "__c", F.xxhash64("__t").alias("__k"))
        .collect()
    )
    n_total = sum(r["__c"] for r in vocab_rows)
    v_sz = len(vocab_rows)
    spark = df.sparkSession
    vocab = spark.createDataFrame(
        [(r["__t"], r["__c"]) for r in vocab_rows], "__t string, __c long"
    )
    # All three joins probe on LONG keys — Spark's specialized
    # LongHashedRelation, measured 3x over the UnsafeHashedRelation
    # string probe at 1M docs (see unigram_logprob_score). The two
    # vocabulary VALUE joins key on xxhash64(token) with the matched
    # token re-checked so a probe-side collision degrades to the exact
    # OOV treatment; vocab-hash distinctness came back with the fit
    # collect. The bigram-COUNT join cannot use raw hashes (its build
    # side is never collected, so hash distinctness there is not
    # verifiable without a second corpus pass) — instead it keys on
    # the vocab INDEX pair ``ip*V + ic``, a bijection with the token
    # pair (both tokens are in the V-row vocabulary by construction),
    # so it is collision-free with no re-check needed. bi_counts is
    # built from the same two hash joins (membership ⟺ re-checked
    # match, exactly the InSet semantics it replaces), which also
    # narrows its aggregation key from two strings to one long.
    # in-vocab prefilter for the COUNT pass: membership via one parsed
    # SQL IN list (Catalyst compiles >10 elements to InSet, a hash-set
    # probe inside codegen, ~4x over two broadcast left-semi string
    # joins; a long-key join variant of this pass was measured — the
    # equality re-check filter gets absorbed into the join as an extra
    # equi-key, reverting the probe to composite string keys, so InSet
    # stands). Guarded by size AND total literal bytes since the InSet
    # embeds every token in the plan twice; either bound falls back to
    # the joins. Built with one parsed SQL string, not Column.isin,
    # whose per-element py4j lit() costs ~1 ms of driver time each —
    # see _sql_in_list.
    vlist = [r["__t"] for r in vocab_rows]
    if v_sz <= 10_000 and sum(len(t) for t in vlist) <= 200_000:
        in_list = _sql_in_list(vlist)
        in_vocab_pairs = pairs.filter(
            F.expr(f"__prev IN ({in_list}) AND __cur IN ({in_list})")
        )
    else:
        in_vocab_pairs = pairs.join(
            F.broadcast(vocab.select(F.col("__t").alias("__prev"))),
            "__prev",
            "left_semi",
        ).join(
            F.broadcast(vocab.select(F.col("__t").alias("__cur"))),
            "__cur",
            "left_semi",
        )
    bi_str = in_vocab_pairs.groupBy("__prev", "__cur").agg(
        F.count("*").alias("__cbi")
    )
    if len({r["__k"] for r in vocab_rows}) == v_sz:
        vp = spark.createDataFrame(
            [(r["__k"], i, r["__t"], r["__c"])
             for i, r in enumerate(vocab_rows)],
            "__kp long, __ip long, __vtp string, __cprev0 long",
        )
        vc = spark.createDataFrame(
            [(r["__k"], i, r["__t"], r["__c"])
             for i, r in enumerate(vocab_rows)],
            "__kc long, __ic long, __vtc string, __ccur0 long",
        )
        # key the V²-bounded bi-count frame by the vocab INDEX pair
        # ``ip*V + ic`` — a bijection with the token pair (both tokens
        # are in the V-row vocabulary by construction), so the key is
        # collision-free with no re-check. The conversion joins probe
        # the TINY aggregated frame against the 1000-row vocabulary
        # (negligible); what matters is that the corpus-scale scoring
        # join below then probes ONE long key instead of a composite
        # (string, string).
        bk = F.col("__ip") * F.lit(v_sz).cast("long") + F.col("__ic")
        bi_counts = (
            bi_str.join(
                F.broadcast(
                    spark.createDataFrame(
                        [(r["__t"], i) for i, r in enumerate(vocab_rows)],
                        "__prev string, __ip long",
                    )
                ),
                "__prev",
            )
            .join(
                F.broadcast(
                    spark.createDataFrame(
                        [(r["__t"], i) for i, r in enumerate(vocab_rows)],
                        "__cur string, __ic long",
                    )
                ),
                "__cur",
            )
            .select(bk.alias("__bk"), "__cbi")
        )
        j = (
            pairs.withColumn("__kp", F.xxhash64("__prev"))
            .withColumn("__kc", F.xxhash64("__cur"))
            .join(F.broadcast(vp), "__kp", "left")
            .join(F.broadcast(vc), "__kc", "left")
            .withColumn("__pm", F.col("__vtp") == F.col("__prev"))
            .withColumn("__cm", F.col("__vtc") == F.col("__cur"))
            .withColumn(
                "__cprev", F.when(F.col("__pm"), F.col("__cprev0"))
            )
            .withColumn("__ccur", F.when(F.col("__cm"), F.col("__ccur0")))
            .withColumn(
                "__bk", F.when(F.col("__pm") & F.col("__cm"), bk)
            )
            .join(F.broadcast(bi_counts), "__bk", "left")
        )
    else:  # vocab-internal 64-bit collision: exact string joins
        bi_counts = bi_str
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
    term = -F.log(F.lit(float(lam)) * p_bi + F.lit(1.0 - float(lam)) * p_uni)
    return j.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(term), 6).alias("bigram_score"),
    )


def line_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RedPajama-v2 style line-shape quality signals (the
    `rps_doc_*`/`rps_lines_*` family computed from the line structure;
    Together 2023): per document the line count, mean line length in
    characters, fraction of lines ending in terminal punctuation
    (. ! ? "), and fraction of distinct lines — boilerplate-heavy or
    template pages score low on uniqueness and punctuation while prose
    scores high. Fractions rounded to 6 decimals. Returns
    (id, n_lines, mean_line_len, frac_punct_lines, frac_unique_lines).

    Map-only: every signal folds over the document's own line array
    inside whole-stage codegen — nothing shuffles, no Python."""
    lines = F.filter(
        F.split(F.col(text_col), "\n"), lambda x: F.trim(x) != ""
    )
    nl = F.size(lines)
    total_len = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    punct = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike('[.!?"]$'))
    )
    uniq = F.size(F.array_distinct(lines))
    return df.filter(nl > 0).select(
        F.col(id_col),
        nl.cast("long").alias("n_lines"),
        F.round(total_len / nl, 6).alias("mean_line_len"),
        F.round(punct / nl, 6).alias("frac_punct_lines"),
        F.round(uniq / nl, 6).alias("frac_unique_lines"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS algorithm): hash every k-token gram, slide a window of w
    consecutive gram hashes, keep each window's minimum; the distinct
    selected hashes are the document's fingerprint set. Guarantees any
    shared run of >= w+k-1 tokens between two documents shares at
    least one fingerprint, with a (~2/(w+1)) selection density.

    Output: (doc_id, n_grams, n_fingerprints, fp_set_md5) where
    fp_set_md5 digests the sorted fingerprint set (cheap equality
    handle for downstream bucket-joins). Hashes are md5 hex strings
    with lexicographic minima — portable across engines, so the DuckDB
    oracle reproduces them bit-exactly.

    Scale posture: zero shuffles — tokens/grams/windows are array
    expressions per row inside codegen; a doc's fingerprint set is
    bounded by its length. Docs shorter than k tokens have no grams
    and are excluded (matching the reference algorithm's domain)."""
    toks = tokens(F.col(text_col))
    d = df.select(F.col(id_col).alias("doc_id"), toks.alias("w")).filter(
        F.size(F.col("w")) >= k
    )
    n_grams = F.size(F.col("w")) - F.lit(k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.md5(
            F.array_join(F.slice(F.col("w"), i, k), " ").cast("binary")
        ),
    )
    d = d.select("doc_id", n_grams.alias("n_grams"), grams.alias("g"))
    n_windows = F.greatest(
        F.col("n_grams") - F.lit(w - 1), F.lit(1)
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(
                F.slice(
                    F.col("g"),
                    j,
                    F.least(F.lit(w), F.col("n_grams")),
                )
            ),
        )
    )
    return d.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.md5(F.array_join(F.array_sort(fps), "|").cast("binary")).alias(
            "fp_set_md5"
        ),
    )
