"""Embedding similarity search: brute-force cosine top-k (exact
baseline) and IVF-style centroid-bucketed ANN (the scale path). The
ANN entries share its blocks: one cosine ranker (``cosine_rank``), one
seed-centroid table and one exact-integer centroid fold
(``centroid_means``, ``means_to_vectors``).

Dot products are left-fold `F.aggregate(zip_with(...))` — JVM-side,
deterministic accumulation order (so the DuckDB oracle's sequential
list_dot_product matches bit-for-bit before rounding). At 100 TB the
brute-force path is the per-candidate scorer; candidate generation is
the IVF assignment (broadcast the centroid table, one map-side pass,
shuffle only (centroid_id) buckets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _rows_to_mat(s: pd.Series) -> tuple[np.ndarray | None, np.ndarray, np.ndarray]:
    """(matrix-or-None, lengths, null-mask) for a Series of arrays.
    matrix is the float64 2-D stack when every non-null row has the
    same length (the always case for embedding columns); None
    otherwise (caller falls back to a per-length pass)."""
    vals = s.to_numpy()
    nulls = pd.isna(vals)
    lens = np.array([0 if n else len(v) for v, n in zip(vals, nulls)], dtype=np.int64)
    if nulls.any() or (len(lens) and not (lens == lens[0]).all()):
        return None, lens, nulls
    if len(vals) == 0 or lens[0] == 0:
        return np.empty((len(vals), 0), dtype=np.float64), lens, nulls
    return np.vstack(vals).astype(np.float64, copy=False), lens, nulls


def _fold_sum(prod: np.ndarray) -> np.ndarray:
    """EXACT left-fold sum per row: cumsum is sequential, and the
    fold's 0.0 + x0 == x0 in IEEE-754, so cumsum[:, -1] is
    bit-identical to aggregate(..., 0.0, acc + x)."""
    if prod.shape[1] == 0:
        return np.zeros(prod.shape[0], dtype=np.float64)
    return prod.cumsum(axis=1)[:, -1]


def _dot_impl(a: pd.Series, b: pd.Series) -> pd.Series:
    av, la, na = _rows_to_mat(a)
    bv, lb, nb = _rows_to_mat(b)
    if av is not None and bv is not None and av.shape == bv.shape:
        return pd.Series(_fold_sum(av * bv))
    # slow path (nulls / ragged): mirror zip_with+aggregate — any null
    # side or length mismatch (zip_with pads with NULL) folds to NULL.
    # Arrow hands a NULL array over as None (pd.isna of an ndarray is
    # elementwise, so it cannot test a whole vector)
    out = np.empty(len(a), dtype=object)
    for i, (x, y) in enumerate(zip(a.to_numpy(), b.to_numpy())):
        if x is None or y is None or len(x) != len(y):
            out[i] = None
        else:
            acc = 0.0
            for xx, yy in zip(np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)):
                acc = acc + xx * yy
            out[i] = acc
    return pd.Series(out)


def _l2_impl(a: pd.Series) -> pd.Series:
    av, _, nulls = _rows_to_mat(a)
    if av is not None:
        return pd.Series(np.sqrt(_fold_sum(av * av)))
    out = np.empty(len(a), dtype=object)
    for i, x in enumerate(a.to_numpy()):
        if x is None:
            out[i] = None
        else:
            acc = 0.0
            for xx in np.asarray(x, dtype=np.float64):
                acc = acc + xx * xx
            out[i] = np.sqrt(acc)
    return pd.Series(out)


# pandas_udf parses its DDL return type against the ACTIVE session, so
# the wrappers are built lazily on first use (module import must work
# without a SparkSession — tests import this module before get_spark)
_UDF_CACHE: dict[str, object] = {}


def _udf(name: str, impl) -> object:
    if name not in _UDF_CACHE:
        _UDF_CACHE[name] = F.pandas_udf(impl, "double")
    return _UDF_CACHE[name]


def dot(a: Column, b: Column) -> Column:
    """Exact dot product — Arrow-vectorized (guide §4.2). Historically
    an F.aggregate(zip_with(...)) left fold; higher-order functions are
    interpreted per element (no codegen), measured 1.6x-10x slower
    than this numpy form. The float semantics are IDENTICAL: elements
    widen float->double, products accumulate strictly left-to-right
    (cumsum), so DuckDB's sequential list_dot_product still matches
    bit-for-bit (equality verified over every corpus pair in tests)."""
    return _udf("dot", _dot_impl)(a, b)


def dot_fold(a: Column, b: Column) -> Column:
    """The original interpreted JVM fold (kept as the equivalence
    reference for tests)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    """sqrt of the exact left-fold sum of squares (see dot)."""
    return _udf("l2", _l2_impl)(a)


def l2_norm_fold(a: Column) -> Column:
    """The original interpreted JVM fold (equivalence reference)."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return F.round(dot(a, b) / (l2_norm(a) * l2_norm(b)), 6)


def cosine_with_norms(
    a: Column, b: Column, norm_a: Column, norm_b: Column, fold: bool = False
) -> Column:
    """cosine() with pre-materialized norms — same expression tree
    (dot / (na * nb), round 6) so results are bit-identical, but each
    side's norm is computed once per ROW instead of once per PAIR.

    ``fold=True`` scores with the JVM fold instead of the Arrow UDF:
    right for PER-PAIR scoring after a broadcast join, where the UDF
    would ship both vectors across the Python boundary once per pair
    (guide §4.1 "how many columns cross") — measured 0.62 s fold vs
    0.89 s Arrow on the 400k-pair cosine_topk at the 10x proxy. Leave
    False when scoring joined rows whose pair count ~ row count."""
    return F.round((dot_fold if fold else dot)(a, b) / (norm_a * norm_b), 6)


def cosine_rank(queries: DataFrame, corpus: DataFrame, k: int, same_cell: bool = False) -> DataFrame:
    """Top-k neighbours per query by cosine, ranked on (rounded sim
    DESC, neighbour id ASC) so results are deterministic across engines
    and partitionings. ``queries`` carries (q_id, q_vec, _qn) and
    ``corpus`` (n_id, n_vec, _nn), each norm stored with its vector;
    with ``same_cell`` a pair must also share its IVF cell (q_c = n_c).
    The query side is broadcast (it is the small side by construction).
    Output: (q_id, n_id, sim, rank).

    Scores with the JVM fold: the join fans every corpus row out
    query-ways, and per-pair Arrow traffic would be the bottleneck
    (see cosine_with_norms)."""
    on = F.col("q_id") != F.col("n_id")
    if same_cell:
        on = (F.col("q_c") == F.col("n_c")) & on
    scored = (
        corpus.join(F.broadcast(queries), on)
        .withColumn(
            "sim",
            cosine_with_norms(
                F.col("q_vec"), F.col("n_vec"), F.col("_qn"), F.col("_nn"), fold=True
            ),
        )
        .select("q_id", "n_id", "sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (cosine_rank over
    every corpus vector)."""
    # norms are materialized BEFORE the join: inlining l2_norm in the
    # post-join cosine recomputes each corpus row's norm once per
    # QUERY (Q-fold duplicate work); pre-join it's once per row — the
    # store-the-norm-with-the-vector pattern any vector store uses.
    # The expression tree (dot / (norm_a * norm_b)) is unchanged, so
    # results stay bit-identical to the oracle.
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).withColumn("_qn", l2_norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    ).withColumn("_nn", l2_norm(F.col("n_vec")))
    return cosine_rank(q, c, k)


def seed_centroids(vectors: DataFrame) -> DataFrame:
    """The IVF / k-means seed centroid table (c_id, c_vec): the first
    eight vectors (vec_id < 8), the oracles' deterministic seeds."""
    return vectors.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )


def centroid_means(assigned: DataFrame) -> DataFrame:
    """Per-dimension cluster means (c_id, pos, mean) of the assigned
    vectors (c_id, embedding). Exact-integer: each value is quantized
    to 1e-6 as a BIGINT before the sum, with one final division, so the
    float accumulation order (partitioning, engine) cannot move a
    mean. The shuffle is (c_id, pos) keyed and partially aggregated."""
    dims = assigned.select(
        "c_id", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).withColumn("q", F.floor(F.col("val").cast("double") * 1000000 + 0.5).cast("long"))
    return dims.groupBy("c_id", "pos").agg(
        (F.sum("q").cast("double") / (F.count(F.lit(1)).cast("double") * 1000000.0)).alias("mean")
    )


def means_to_vectors(means: DataFrame) -> DataFrame:
    """centroid_means rows back to one centroid vector per cluster:
    (c_id, c_vec), dimensions in pos order."""
    return means.groupBy("c_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))),
            lambda s: s.getField("mean"),
        ).alias("c_vec")
    )


def rp_lsh_assign(
    vectors: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_id_col: str = "h_id",
    plane_vec_col: str = "h_vec",
) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket per vector — Charikar's
    simhash for cosine: bit i = 1 iff dot(v, h_i) > 0, bucket =
    Σ bit_i·2^i. Two vectors at angle θ land in one bucket with
    probability (1 − θ/π)^n_planes, so near-duplicates concentrate in
    shared buckets and candidate generation becomes a bucket equi-join
    (the LSH alternative to the IVF path; same shuffle shape). Planes
    are broadcast; the only shuffle is the per-vector bit fold.

    Callers supply the plane table (here: rows of the corpus itself as
    a deterministic stand-in — on a real pipeline, seeded Gaussian
    vectors). Output: (id_col, lsh_bucket)."""
    b = vectors.select(id_col, vec_col).join(
        F.broadcast(planes.select(plane_id_col, plane_vec_col))
    )
    term = (
        F.when(dot(F.col(vec_col), F.col(plane_vec_col)) > 0, F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        * F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({plane_id_col} AS INT))")
    )
    return b.groupBy(id_col).agg(F.sum(term).cast("long").alias("lsh_bucket"))


def ivf_assign_vec(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "c_id",
    centroid_vec_col: str = "c_vec",
) -> DataFrame:
    """``ivf_assign`` that CARRIES THE VECTOR through: output
    (id_col, centroid_id_col, vec_col).

    Why it exists (r6, guide §2.4): every consumer that needs the
    assigned vectors (IVF cell search, k-means centroid update) was
    re-attaching them with ``assign.join(vectors, id_col)`` — a
    sort-merge join that shuffles the whole embedding table on a key
    that exists only to undo ``ivf_assign``'s projection, on top of
    the window pick's own exchange+sort over the centroid-fanned-out
    rows. Here the argmax is an aggregate (``max_by`` over
    (sim, -centroid_id)), so partial aggregation collapses the k
    fanned-out rows per vector MAP-SIDE (the broadcast join produces
    them inside one task) and ONE exchange carries one row per vector
    — no join-back, no sorts.

    Identical assignment to ``ivf_assign``: the window pick is
    row_number over (sim DESC, c_id ASC) → rn=1, i.e. max sim with
    ties to the LOWest centroid id; max_by over the ordering struct
    (sim, -c_id) picks exactly that row. ``sim`` is the same
    cosine_with_norms expression, so the compared values are
    bit-identical. Precondition (holds for every embedding corpus
    here, and for ivf_assign's own ordering to be meaningful): sims
    are non-null — vectors and centroids are non-null fixed-dim
    arrays with positive norms. first(vec) is deterministic because
    vec is functionally dependent on the group key.

    Scores with the JVM fold, not the Arrow dot (guide §4.1): this
    shape is pure PAIR-FAN-OUT — the broadcast join fans every
    embedding k centroid-ways, and an Arrow scorer would ship both
    64-float vectors across the Python boundary once per (vector,
    centroid) pair. Interleaved first-run+warm A/B at the 10× proxy:
    whole-query fold 2.50 s first / 1.5-2.0 warm vs Arrow 3.64 /
    2.2 — fold wins both. (The window-form ``ivf_assign`` measured
    the OPPOSITE — Arrow 1.09 vs fold 1.27 min, same session — so
    each keeps its measured winner; the two scorers are bit-identical
    by the exact-fold-semantics tests.)"""
    scored = (
        vectors.select(id_col, vec_col)
        .withColumn("_vn", l2_norm_fold(F.col(vec_col)))
        .join(
            F.broadcast(
                centroids.select(centroid_id_col, centroid_vec_col).withColumn(
                    "_cn", l2_norm_fold(F.col(centroid_vec_col))
                )
            )
        )
        .withColumn(
            "sim",
            cosine_with_norms(
                F.col(vec_col), F.col(centroid_vec_col), F.col("_vn"), F.col("_cn"),
                fold=True,
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.max_by(
            F.col(centroid_id_col),
            F.struct(F.col("sim"), (-F.col(centroid_id_col)).alias("_nc")),
        ).alias(centroid_id_col),
        F.first(F.col(vec_col)).alias(vec_col),
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "c_id",
    centroid_vec_col: str = "c_vec",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (IVF coarse
    quantizer). Centroids are broadcast; ties break to the lower
    centroid id. Output: (vec_id, c_id, sim)."""
    scored = (
        vectors.select(id_col, vec_col)
        .withColumn("_vn", l2_norm(F.col(vec_col)))  # once per vector, not per centroid
        .join(
            F.broadcast(
                centroids.select(centroid_id_col, centroid_vec_col).withColumn(
                    "_cn", l2_norm(F.col(centroid_vec_col))
                )
            )
        )
        .withColumn(
            "sim",
            cosine_with_norms(
                F.col(vec_col), F.col(centroid_vec_col), F.col("_vn"), F.col("_cn")
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col(centroid_id_col).asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col(centroid_id_col), F.col("sim"))
    )
