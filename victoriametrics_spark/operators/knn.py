"""Similarity search over embedding columns (array<float>).

- Brute-force cosine: exact baseline, one scan, JVM-side fold (zip_with +
  aggregate) — no Python boundary.
- Random-hyperplane LSH: the scale path. Bucket = sign-bit string of dot
  products with R fixed planes; candidate set = query's bucket (optionally
  multi-probe). At 100 TB the bucket column is computed once at ingest and
  used as a partition/bucketing key so a query touches one bucket's files.
- Within-group pairs (pairwise_cosine_within, SemDeDup): one grouped-map
  pass per group — a numpy Gram per label or IVF cell, with every entry
  near tau re-checked by the exact left-to-right fold. One group must
  fit one Python worker, so SemDeDup's ``k_cells`` grows with the corpus.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Higher-order-function folds (aggregate/transform/zip_with) evaluate
# INTERPRETED — each lambda invocation walks the expression tree — while
# an unrolled left-associated chain `((0 + t1) + t2) + ...` compiles
# into whole-stage codegen. The chain performs the SAME additions and
# multiplications in the SAME order, so results stay bit-identical to
# the sequential fold the DuckDB oracle mirrors (measured ~4-8x on the
# embedding gates, whose per-pair 64-term folds dominated).


def _chain_sum(terms: list[Column]) -> Column:
    """Left-associated `((0.0 + t1) + t2) + ...` — the codegen twin of
    `aggregate(arr, 0.0, acc + x)`; identical order and rounding."""
    expr: Column = F.lit(0.0)
    for t in terms:
        expr = expr + t
    return expr


def _dot_with_literal(vec_col: Column, q: list[float]) -> Column:
    """Σ vec[i]·q[i] as a sequential fold (deterministic order).

    Kept as a fold on purpose: per-ROW query scoring touches each
    vector once, so interpretation costs ~0.1s per million terms while
    an unrolled chain here bloats every literal-query plan (scored +
    filtered copies) and costs more in optimizer time than it saves —
    measured: knn_threshold 1.0→1.3s, lsh_knn 2.7→4.0s with unrolling.
    The unrolled chain is reserved for per-PAIR hot loops
    (_sub_sqdist) where runtime dominates."""
    arr = F.transform(
        F.sequence(F.lit(1), F.lit(len(q))),
        lambda i: F.element_at(vec_col, i).cast("double")
        * F.element_at(F.array(*[F.lit(float(x)) for x in q]), i),
    )
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _norm(vec_col: Column) -> Column:
    """√Σ vec[i]² as a sequential fold over the row's own array."""
    sq = F.aggregate(
        vec_col,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return F.sqrt(sq)


def cosine_to_query(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cosine) for every row vs a literal query vector."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query))
    cos = F.try_divide(
        _dot_with_literal(F.col(vec_col), query), _norm(F.col(vec_col)) * F.lit(qn)
    )
    return df.select(F.col(id_col), cos.alias("cosine"))


def knn_threshold(
    df: DataFrame,
    query: list[float],
    tau: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All vectors with cosine ≥ tau (set-stable under float noise,
    unlike top-k rank boundaries)."""
    scored = cosine_to_query(df, query, vec_col, id_col)
    return scored.filter(F.col("cosine") >= tau).select(
        id_col, F.round("cosine", 6).alias("cosine")
    )


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rank_rounded: bool = False,
) -> DataFrame:
    """Exact top-k by cosine (ties broken by id for determinism).
    ``rank_rounded`` ranks by the 6-decimal-rounded cosine instead of
    the raw float so an independent engine summing in a different order
    reproduces the exact same k-boundary (used by the DuckDB gates)."""
    scored = cosine_to_query(df, query, vec_col, id_col)
    rank_col = (
        F.round("cosine", 6) if rank_rounded else F.col("cosine")
    )
    return (
        scored.orderBy(rank_col.desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("cosine", 6).alias("cosine"))
    )


def _probe_cells(
    centroids: list[tuple[int, list[float]]],
    query: list[float],
    n_probe: int,
) -> list[int]:
    """Ids of the n_probe cells whose centroids are nearest the query
    (squared L2; ties -> lowest cell id) — shared by the in-memory and
    persisted IVF probe paths so their cell selection can't diverge."""

    def sqdist(a: list[float], b: list[float]) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    probe = sorted(
        ((sqdist(cvec, query), cid) for cid, cvec in centroids)
    )[:n_probe]
    return [cid for _, cid in probe]


def ivf_knn_topk(
    df: DataFrame,
    query: list[float],
    k: int,
    k_cells: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: "list[tuple[int, list[float]]] | None" = None,
    rank_rounded: bool = False,
) -> DataFrame:
    """Approximate top-k: brute_force_topk restricted to the ``n_probe``
    IVF cells nearest the query (ties broken by id for determinism).
    The scale path: a probe scans ~n_probe/k_cells of the corpus with
    the cell id as the partition key at ingest."""
    if centroids is None:
        centroids = deterministic_centroids(df, k_cells, vec_col, id_col)
    probe_ids = _probe_cells(centroids, query, n_probe)
    cand = df.filter(ivf_cell(F.col(vec_col), centroids).isin(probe_ids))
    return brute_force_topk(cand, query, k, vec_col, id_col, rank_rounded)


def random_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (public LSH construction)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def md5_planes(dim: int, n_planes: int, seed: int = 42, table: int = 0) -> list[list[float]]:
    """Hyperplanes with components derived from md5 — uniform in [-1, 1),
    reproducible bit-for-bit in ANY engine with md5 (DuckDB:
    ``('0x' || substr(md5(key),1,13))::BIGINT / 2251799813685248.0 - 1.0``),
    which makes the whole LSH bucket assignment oracle-checkable
    end-to-end. 13 hex chars = 52 bits ≤ the 53-bit double mantissa and
    the divisor 2^51 is a power of two, so every component is EXACTLY
    representable — no rounding on either engine. Sign-bucket LSH only
    needs symmetric component distributions, so uniform works as well as
    Gaussian here."""
    import hashlib

    def comp(i: int, d: int) -> float:
        key = f"lsh:{seed}:{table}:{i}:{d}".encode()
        return int(hashlib.md5(key).hexdigest()[:13], 16) / 2**51 - 1.0

    return [[comp(i, d) for d in range(dim)] for i in range(n_planes)]


def hyperplane_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id (0..2^R-1) for a vector column."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(_dot_with_literal(vec_col, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket + F.shiftleft(bit.cast("long"), i)
    return bucket


def table_planes(
    dim: int, n_tables: int, bits_per_table: int, seed: int, plane_fn: str = "gauss"
) -> list[list[list[float]]]:
    """The deterministic hyperplane set for every LSH table.

    ``plane_fn="gauss"`` (default) uses Python's seeded Gaussian;
    ``"md5"`` derives every component from md5 so an external oracle
    (DuckDB) can recompute the identical buckets — see md5_planes."""
    if plane_fn == "md5":
        return [
            md5_planes(dim, bits_per_table, seed, table=t) for t in range(n_tables)
        ]
    return [
        random_planes(dim, bits_per_table, seed + 1000 * t)
        for t in range(n_tables)
    ]


def query_bucket(query: list[float], planes: list[list[float]]) -> int:
    qbits = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(p, query)) >= 0:
            qbits |= 1 << i
    return qbits


def with_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_tables: int = 8,
    bits_per_table: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    plane_fn: str = "gauss",
) -> DataFrame:
    """Materialize the per-table bucket ids as columns ``lsh_b0..lsh_bT``.

    This is the INGEST-side precompute: written once with the data (and at
    scale used as a partitioning/bucketing key so a probe touches only the
    matching bucket's files), it turns each query from T×planes dot
    products over the full corpus into one scan filtering on T persisted
    int columns — or a partition-pruned read when laid out by bucket."""
    out = df
    for t, planes in enumerate(
        table_planes(dim, n_tables, bits_per_table, seed, plane_fn)
    ):
        out = out.withColumn(
            f"lsh_b{t}", hyperplane_bucket(F.col(vec_col), planes)
        )
    return out


def lsh_knn_threshold_persisted(
    df_with_buckets: DataFrame,
    query: list[float],
    tau: float,
    n_tables: int = 8,
    bits_per_table: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    plane_fn: str = "gauss",
) -> DataFrame:
    """Probe pre-materialized bucket columns (see with_lsh_buckets):
    candidates = rows matching the query's bucket in ANY table — a single
    scan with an OR of integer-equality predicates — then exact cosine
    verify on the (~T·2^-b) candidate fraction."""
    planes = table_planes(len(query), n_tables, bits_per_table, seed, plane_fn)
    pred = None
    for t, p in enumerate(planes):
        c = F.col(f"lsh_b{t}") == F.lit(query_bucket(query, p))
        pred = c if pred is None else (pred | c)
    cand = df_with_buckets.filter(pred)
    return knn_threshold(cand, query, tau, vec_col, id_col)


def lsh_knn_threshold(
    df: DataFrame,
    query: list[float],
    tau: float,
    n_tables: int = 8,
    bits_per_table: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    plane_fn: str = "gauss",
) -> DataFrame:
    """Approximate threshold search with multi-table hyperplane LSH:
    candidate = same bucket as the query in ANY of the T independent
    b-bit tables (OR-construction). One table is hopeless for moderate
    similarity — P(match | cos θ) = (1-θ/π)^b per table; OR-ing T tables
    lifts recall to 1-(1-p)^T while each probe still touches only
    ~2^-b of the corpus.

    Without persisted buckets this computes them on the fly in ONE scan
    (bucket columns + OR predicate); ingest-side, call with_lsh_buckets
    once and probe via lsh_knn_threshold_persisted."""
    dim = len(query)
    bucketed = with_lsh_buckets(
        df.select(id_col, vec_col), dim, n_tables, bits_per_table, seed, vec_col,
        plane_fn,
    )
    return lsh_knn_threshold_persisted(
        bucketed, query, tau, n_tables, bits_per_table, seed, vec_col, id_col,
        plane_fn,
    )


_GRAM_TILE_ROWS = 1024  # Gram block edge: memory O(n·dim + tile²)
_GRAM_MARGIN = 1e-9  # ≫ |BLAS dot − fold dot| ≤ 2·dim·2^-53 on unit vectors


def _group_pairs(ids: pa.Array, vecs: pa.Array, tau: float, tile_rows: int):
    """Row indices ``a``, ``b`` and cosines of one group's pairs with
    ``id_a < id_b`` and cosine ≥ tau, NaN counting as ≥ (Spark's and
    DuckDB's order). A numpy Gram in row tiles finds candidates within
    _GRAM_MARGIN of tau; the left-to-right fold the oracles define,
    after :func:`_norm`'s Σx² and ``try_divide``, decides them. A null
    id, vector or element, a zero norm or unequal lengths form no pair:
    there the Spark fold's cosine is null."""
    offsets = vecs.offsets.to_numpy()
    starts, lens = offsets[:-1], np.diff(offsets)
    nulls = np.concatenate(([0], np.cumsum(np.asarray(vecs.values.is_null()))))
    ok = np.asarray(ids.is_valid()) & np.asarray(vecs.is_valid()) & (lens > 0)
    ok &= nulls[offsets[1:]] == nulls[starts]  # no null element
    vals = vecs.values.to_numpy(zero_copy_only=False).astype(np.float64)
    rank = np.asarray(pc.rank(ids, tiebreaker="dense"))
    rows = np.flatnonzero(ok)
    rows = rows[np.argsort(rank[rows], kind="stable")]
    found = [(np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))]
    for d in np.unique(lens[rows]):
        sub = rows[lens[rows] == d]
        x = vals[starts[sub][:, None] + np.arange(d)]
        sq = np.zeros(len(sub))
        for j in range(d):
            sq = sq + x[:, j] * x[:, j]
        norm = np.sqrt(sq)
        sub, nv = sub[norm != 0], x[norm != 0] / norm[norm != 0, None]
        nvt, r = np.ascontiguousarray(nv.T), rank[sub]
        for i0 in range(0, len(sub), tile_rows):
            for j0 in range(i0, len(sub), tile_rows):
                g = nv[i0 : i0 + tile_rows] @ nv[j0 : j0 + tile_rows].T
                a, b = np.nonzero(~(g < tau - _GRAM_MARGIN))
                a, b = a + i0, b + j0
                upper = r[a] < r[b]  # rows are in id order: also b > a
                a, b = a[upper], b[upper]
                cos = np.zeros(len(a))
                for j in range(d):
                    cos = cos + nvt[j, a] * nvt[j, b]
                hit = ~(cos < tau)
                found.append((sub[a[hit]], sub[b[hit]], cos[hit]))
    return tuple(np.concatenate(c) for c in zip(*found))


def _kept_rows(ids: pa.Array, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Rows that survive dedup over the pair graph ``a``–``b``: each row
    whose id is in no pair, and the minimum id of each component. Nodes
    are ids (min-label propagation with pointer jumping), so rows
    sharing an id stay or go together."""
    node = np.asarray(pc.rank(ids, tiebreaker="dense")).astype(np.int64) - 1
    ea, eb = node[a], node[b]
    label = np.arange(node.max() + 1)
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, ea, label[eb])
        np.minimum.at(nxt, eb, label[ea])
        nxt = nxt[nxt]
        if np.array_equal(nxt, label):
            return np.flatnonzero(~np.asarray(ids.is_valid()) | (label[node] == node))
        label = nxt


def _within_group(
    df: DataFrame, key_col: str, tau: float, vec_col: str, id_col: str,
    keep_rows: bool = False, _tile_rows: int = _GRAM_TILE_ROWS,
) -> DataFrame:
    """One ``groupBy(key_col).applyInArrow`` pass of :func:`_group_pairs`:
    ``(key_col, id_a, id_b, cosine)`` with the cosine rounded to 6
    places, or with ``keep_rows`` the rows :func:`_kept_rows` keeps,
    minus ``key_col`` and unchanged (Arrow, unlike pandas, keeps a NaN
    element apart from null). ``_tile_rows`` rides in the closure, as a
    module constant patched on the driver never reaches the workers."""

    def per_group(key: tuple, t: pa.Table) -> pa.Table:
        ids = t.column(id_col).combine_chunks()
        # a null key pairs nothing, as a null join key would not
        live = ids if key[0].is_valid else pa.nulls(len(ids), ids.type)
        vecs = t.column(vec_col).combine_chunks()
        a, b, cos = _group_pairs(live, vecs, tau, _tile_rows)
        if keep_rows:
            return t.drop_columns([key_col]).take(_kept_rows(ids, a, b))
        return pa.Table.from_arrays(
            [t.column(key_col).take(a), ids.take(a), ids.take(b), pa.array(cos)],
            names=[key_col, "id_a", "id_b", "cosine"],
        )

    if keep_rows:
        return df.groupBy(key_col).applyInArrow(per_group, df.drop(key_col).schema)
    ids_ab = [F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b")]
    schema = df.select(key_col, *ids_ab, F.lit(0.0).alias("cosine")).schema
    out = df.groupBy(key_col).applyInArrow(per_group, schema)
    return out.withColumn("cosine", F.round("cosine", 6))


def pairwise_cosine_within(
    df: DataFrame,
    group_col: str,
    tau: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All pairs with cosine ≥ tau *within a group* (e.g. an LSH bucket or
    a label), as ``(group_col, id_a, id_b, cosine)``: the bucket-local
    verify step of embedding dedup. One group must fit one Python
    worker."""
    return _within_group(
        df.select(group_col, id_col, vec_col), group_col, tau, vec_col, id_col
    )


# ------------------------------------------------------------------ round 6:
# IVF (inverted-file) ANN — the second scale path named in SURVEY.md
# beside hyperplane LSH: partition the corpus into K cells around
# centroids, probe only the n_probe cells nearest the query. At 100 TB
# the cell id is computed once at ingest and used as the partition /
# bucket key, so a probe touches n_probe/K of the files.


def deterministic_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[float]]]:
    """K centroid vectors chosen deterministically: the k corpus vectors
    with the smallest md5(id) — a seeded uniform sample any engine can
    reproduce (DuckDB: ``ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT k``).
    Real deployments would k-means-refine these; selection-by-hash keeps
    the whole index oracle-checkable, and one Lloyd iteration is a
    deterministic DataFrame op away (groupBy cell -> avg)."""
    rows = (
        df.select(id_col, vec_col)
        .withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(k)
        .collect()
    )
    # centroid index = rank in the SAME hash order the oracle uses
    return [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(rows)]


def lloyd_refine(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 1,
) -> list[tuple[int, list[float]]]:
    """Lloyd (k-means) refinement of IVF centroids: assign every vector
    to its nearest centroid, replace each centroid with the element-wise
    mean of its cell. One distributed groupBy-avg pass per iteration;
    empty cells keep their previous centroid. Deterministic given the
    input centroids (the averages are order-insensitive up to float
    summation order, so refined centroids are for INDEX QUALITY — the
    hash-parity gate keeps the unrefined deterministic seed centroids)."""
    dims = len(centroids[0][1])
    for _ in range(iterations):
        cell = ivf_cell(F.col(vec_col), centroids)
        agg = (
            df.select(cell.alias("__cell"), F.col(vec_col).alias("__v"))
            .groupBy("__cell")
            .agg(
                *[
                    F.avg(F.element_at("__v", i + 1).cast("double")).alias(
                        f"d{i}"
                    )
                    for i in range(dims)
                ]
            )
            .collect()
        )
        refined = dict(centroids)
        for r in agg:
            refined[r["__cell"]] = [float(r[f"d{i}"]) for i in range(dims)]
        centroids = sorted(refined.items())
    return list(centroids)


def _sqdist_to_literal(vec_col: Column, q: list[float]) -> Column:
    """Σ (vec[i] - q[i])² as a sequential fold (zip_with keeps one
    element visit per term — same order/rounding as the per-index
    oracle recomputation). Fold on purpose — see _dot_with_literal:
    ivf_cell builds k of these into one filter expression, and the
    unrolled form tripled ivf_knn/ivf_topk latency in optimizer time."""
    qarr = F.array(*[F.lit(float(x)) for x in q])
    diffs = F.zip_with(
        vec_col, qarr, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def ivf_cell(vec_col: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid cell id (squared L2; ties → lowest cell id).

    Built as argmin over an ARRAY of the k distance folds — linear
    expression size. The obvious chained-CASE accumulator triples the
    tree per centroid (the running best is embedded into every
    subsequent when/otherwise), reaching ~3^k nodes and dominating
    plan compile time at k=8 (measured 15s → sub-second here)."""
    ordered = sorted(centroids)  # ascending cid → first-min = lowest id
    darr = F.array(
        *[_sqdist_to_literal(vec_col, cvec) for _, cvec in ordered]
    )
    idx = F.array_position(darr, F.array_min(darr))
    cids = F.array(*[F.lit(int(cid)) for cid, _ in ordered])
    return F.element_at(cids, idx.cast("int"))


def ivf_knn_threshold(
    df: DataFrame,
    query: list[float],
    tau: float,
    k_cells: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate cosine-threshold search: assign every vector to its
    nearest centroid cell, probe the n_probe cells whose centroids are
    nearest the query, exact-cosine verify inside them. One scan to
    assign + filter (the cell expression collapses to a literal CASE
    over k_cells distance folds), then knn_threshold on ~n_probe/k of
    the corpus."""
    if centroids is None:
        centroids = deterministic_centroids(df, k_cells, vec_col, id_col)
    probe_ids = _probe_cells(centroids, query, n_probe)
    cand = df.filter(ivf_cell(F.col(vec_col), centroids).isin(probe_ids))
    return knn_threshold(cand, query, tau, vec_col, id_col)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector int8 scalar quantization: ``scale = max|v| / 127``,
    ``q_i = floor(v_i / scale + 0.5)`` — 4× smaller than f32 vectors
    (the standard memory lever for billion-vector ANN; at 100 TB the
    quantized column is what stays hot while raw vectors live cold).
    floor(x + 0.5) rounding is used instead of round() so the oracle's
    arithmetic is bit-identical. Zero vectors quantize to all-zeros
    with scale 0. Output: (id, qvec array<int>, scale double)."""
    v = F.col(vec_col)
    absmax = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = absmax / F.lit(127.0)
    q = F.transform(
        v,
        lambda x: F.coalesce(
            F.floor(F.try_divide(x.cast("double"), scale) + F.lit(0.5)),
            F.lit(0),
        ).cast("int"),
    )
    return df.select(
        F.col(id_col), q.alias("qvec"), scale.alias("scale")
    )


def quantized_knn_threshold(
    qdf: DataFrame,
    query: list[float],
    tau: float,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric quantized scoring: the full-precision query against
    int8 vectors. For cosine the per-vector scale CANCELS
    (cos = Σq_i·Q_i / (√Σq_i² · |Q|)), so scoring is pure integer-array
    arithmetic per row — no dequantization pass. Zero vectors (scale 0)
    drop out via null cosine, like the exact path."""
    import math as _math

    qn = _math.sqrt(sum(float(x) * float(x) for x in query))
    qv = F.col("qvec")
    # folds on purpose (see _dot_with_literal): qvec is itself a
    # transform expression, and unrolled element_at chains inline it
    # 64x via CollapseProject — measured 1.6s → 93s in optimizer time
    dot = F.aggregate(
        F.zip_with(
            qv,
            F.array(*[F.lit(float(x)) for x in query]),
            lambda a, b: a.cast("double") * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qnorm = F.sqrt(
        F.aggregate(
            qv,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    cos = F.try_divide(dot, qnorm * F.lit(qn))
    return (
        qdf.select(F.col(id_col), cos.alias("cosine"))
        .filter(F.col("cosine") >= tau)
        .select(id_col, F.round("cosine", 6).alias("cosine"))
    )


# ------------------------------------------------------------- round 9:
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup for
# training corpora: cluster embeddings (k-means cells), compare vectors
# only WITHIN a cluster, and keep one representative per group of
# semantic duplicates. Every duplicate component lies inside one cell,
# so the whole step is one grouped-map pass per cell with an exact
# re-check (_within_group). Precondition: one cell fits one Python
# worker, so k_cells must grow with the corpus, as SemDeDup's tens of
# thousands of clusters do; a fixed 8 does not reach 100 TB.


def semantic_dedup_pairs(
    df: DataFrame,
    tau: float,
    k_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """(cell, id_a, id_b, cosine) for every within-cell pair with
    cosine ≥ tau. Centroids default to the deterministic md5-seeded
    sample (oracle-reproducible); for production index quality pass
    ``centroids=lloyd_refine(df, deterministic_centroids(df, k))``."""
    if centroids is None:
        centroids = deterministic_centroids(df, k_cells, vec_col, id_col)
    with_cell = df.select(
        ivf_cell(F.col(vec_col), centroids).alias("cell"), id_col, vec_col
    )
    return _within_group(with_cell, "cell", tau, vec_col, id_col)


def semantic_dedup(
    df: DataFrame,
    tau: float,
    k_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup keep-list: ``df`` filtered to one canonical row (the
    minimum id) per semantic-duplicate component, where components are
    the connected closure of the within-cell cosine-≥-tau pair graph.
    Rows in no pair are kept as-is. Precondition: ``id_col`` is unique
    per row, since components are solved per cell."""
    if centroids is None:
        centroids = deterministic_centroids(df, k_cells, vec_col, id_col)
    with_cell = df.withColumn("__sem_cell", ivf_cell(F.col(vec_col), centroids))
    return _within_group(
        with_cell, "__sem_cell", tau, vec_col, id_col, keep_rows=True
    )


# ------------------------------------------------------------- round 9:
# persisted IVF index — the "cell id = partition key at ingest" story
# made concrete: vectors land in cell=<id> partition directories, so a
# probe LISTS only n_probe directories (Spark partition pruning) and
# never touches the rest of the corpus' files.


def write_ivf_index(
    df: DataFrame,
    table: str,
    k_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
    refine_iterations: int = 0,
    mode: str = "overwrite",
) -> list[tuple[int, list[float]]]:
    """Persist ``df`` as a cell-partitioned IVF index table: one
    ``cell=<id>`` partition directory per centroid. Returns the
    centroid list — store it beside the table (it is the index
    metadata a probe needs; re-deriving it from a changed corpus would
    silently re-shape the cells). ``refine_iterations`` > 0 runs Lloyd
    refinement before assignment for production index quality."""
    if centroids is None:
        centroids = deterministic_centroids(df, k_cells, vec_col, id_col)
    if refine_iterations:
        centroids = lloyd_refine(
            df, centroids, vec_col, id_col, iterations=refine_iterations
        )
    spark = df.sparkSession
    if mode == "overwrite":
        from victoriametrics_spark.storage.layout import drop_samples_table

        drop_samples_table(spark, table)
    (
        df.withColumn("cell", ivf_cell(F.col(vec_col), centroids))
        .repartition("cell")
        .write.mode(mode)
        .format("parquet")
        .partitionBy("cell")
        .saveAsTable(table)
    )
    return centroids


def ivf_index_knn_threshold(
    spark,
    table: str,
    centroids: list[tuple[int, list[float]]],
    query: list[float],
    tau: float,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine-threshold probe over a :func:`write_ivf_index` table.
    The ``cell IN (...)`` filter is a PARTITION filter: Spark lists
    only the n_probe probed directories — at a billion vectors the
    scan reads n_probe/k of the files, the IVF promise as physical
    layout rather than a runtime filter."""
    probe_ids = _probe_cells(centroids, query, n_probe)
    cand = spark.table(table).filter(F.col("cell").isin(probe_ids))
    return knn_threshold(cand, query, tau, vec_col, id_col)


def cluster_stats(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Per-cluster embedding diagnostics — the health check run after
    any clustering / IVF-build step (and the per-source drift monitor
    of an embedding pipeline): for each cluster label, the member
    count, the L2 norm of the centroid, the mean cosine of members to
    their centroid (cohesion), and the inertia (mean squared L2
    distance to the centroid — the k-means objective per member).
    All values rounded to 6 decimals. Returns
    (label, n, centroid_norm, mean_cosine, inertia).

    Shape for 100 TB: pass 1 computes the centroid as ``dim``
    per-dimension avg aggregates in ONE keyed aggregation (map-side
    partials; shuffle = #labels × dim fixed-width doubles); centroids
    (#labels rows) are collected like IVF centroids and rebroadcast;
    pass 2 is a map-only broadcast-join + one #labels-row aggregation.
    Vectors never shuffle."""
    if dim is None:
        first = df.select(F.size(vec_col)).first()
        dim = int(first[0]) if first else 0
    cent_rows = (
        df.groupBy(label_col)
        .agg(
            F.count("*").alias("__n"),
            *[
                F.avg(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(
                    f"__c{i}"
                )
                for i in range(dim)
            ],
        )
        .collect()
    )
    spark = df.sparkSession
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # label column keeps the INPUT's type (string sources, wide ints —
    # the docstring's per-source drift monitoring), not a hardcoded int
    cent_schema = StructType(
        [
            StructField(label_col, df.schema[label_col].dataType),
            StructField("__n", LongType()),
            StructField("__cent", ArrayType(DoubleType())),
        ]
    )
    cent = spark.createDataFrame(
        [
            (r[label_col], r["__n"], [float(r[f"__c{i}"]) for i in range(dim)])
            for r in cent_rows
        ],
        cent_schema,
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, F.col("__cent"), lambda x, c: x * c),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cnorm = F.sqrt(
        F.aggregate(
            F.col("__cent"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    sqd = F.aggregate(
        F.zip_with(v, F.col("__cent"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df.join(F.broadcast(cent), label_col)
        .groupBy(label_col, "__n")
        .agg(
            F.round(F.avg(F.try_divide(dot, vnorm * cnorm)), 6).alias(
                "__mean_cos"
            ),
            F.round(F.avg(sqd), 6).alias("__inertia"),
            F.round(F.first(cnorm), 6).alias("__cnorm"),
        )
        .select(
            F.col(label_col),
            F.col("__n").cast("long").alias("n"),
            F.col("__cnorm").alias("centroid_norm"),
            F.col("__mean_cos").alias("mean_cosine"),
            F.col("__inertia").alias("inertia"),
        )
    )


def pq_codebooks(
    df: DataFrame,
    m: int = 8,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector splits into ``m``
    equal subspaces; subspace ``s``'s ``k`` centroids are the
    sub-vectors of the k deterministic anchor vectors (smallest
    md5(id) — the same oracle-reproducible seeding as the IVF
    centroids; real deployments k-means-refine per subspace).
    Returns codebooks[s][c] = centroid c of subspace s."""
    anchors = deterministic_centroids(df, k, vec_col, id_col)
    dim = len(anchors[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    return [
        [vec[s * d_sub : (s + 1) * d_sub] for _, vec in anchors]
        for s in range(m)
    ]


def _sub_sqdist(vec_col: Column, offset: int, cent: list[float]) -> Column:
    """Σ over the subspace of (vec[offset+j] − cent[j])², sequential
    order (matches the oracle's ORDER BY sum). Unrolled for codegen —
    the fold visited element_at(offset+j) for j=1..len(cent) exactly as
    these terms do (out-of-range nulls propagate identically), and the
    `** 2` power form is kept so rounding cannot shift."""
    return _chain_sum(
        [
            (
                F.element_at(vec_col, offset + j + 1).cast("double")
                - F.lit(float(c))
            )
            ** 2
            for j, c in enumerate(cent)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector its PQ code: per subspace the nearest
    codebook centroid (6-decimal-rounded distance, centroid-index
    tie-break — reproducible across engines). Returns
    (id, codes array<int>). Map-only; at 100 TB the 1-byte-per-
    subspace codes column replaces the float vector for search."""
    d_sub = len(codebooks[0][0])
    code_cols = []
    for s, book in enumerate(codebooks):
        dists = F.array(
            *[
                F.round(_sub_sqdist(F.col(vec_col), s * d_sub, c), 6)
                for c in book
            ]
        )
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias(f"__c{s}")
        )
    return df.select(F.col(id_col), *code_cols).select(
        id_col,
        F.array(*[F.col(f"__c{s}") for s in range(len(codebooks))]).alias(
            "codes"
        ),
    )


def pq_knn_topk(
    df: DataFrame,
    query: list[float],
    topk: int = 10,
    m: int = 8,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance PQ search (ADC — Jégou et al. 2011): encode
    the corpus with product-quantization codebooks, precompute the
    query's distance to every (subspace, centroid) pair driver-side
    (m·k scalars — the classic lookup table), and rank by
    ``adc = Σ_s table[s][code_s]``. Returns the ``topk`` ids with
    their rounded ADC distance (vec_id tie-break).

    Shape for 100 TB: codebook fit collects k anchor rows; encoding is
    map-only; search reads ONLY the m-byte codes column (the 32×
    compression that makes billion-vector search RAM-resident) and
    ranks with one bounded top-k — no vector bytes move."""
    books = pq_codebooks(df, m, k, vec_col, id_col)
    d_sub = len(books[0][0])
    q_sub = [query[s * d_sub : (s + 1) * d_sub] for s in range(m)]
    table = [
        [
            sum((float(q) - float(c)) ** 2 for q, c in zip(q_sub[s], cent))
            for cent in books[s]
        ]
        for s in range(m)
    ]
    codes = pq_encode(df, books, vec_col, id_col)
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(
            F.array(*[F.lit(float(x)) for x in table[s]]),
            F.element_at(F.col("codes"), s + 1) + 1,
        )
    return (
        codes.select(F.col(id_col), F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(int(topk))
    )
