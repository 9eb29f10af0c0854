"""Embedding similarity search (approximate nearest neighbor).

Brute-force cosine top-k as the exactness baseline, plus an LSH-bucketed
variant (random-hyperplane signs) as the scale path. Pair scoring uses
JVM higher-order functions (zip_with/aggregate); the LSH signature stage
is a single Arrow-batched pandas UDF doing one numpy matmul per batch
(all planes at once) — the per-plane interpreted-lambda form was
O(planes x dim) row-at-a-time and is exactly the trap documented in
operators/dedup.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from liblevenshtein_rust_spark.operators.fuzzy_join import _blocked_join


def _dot(a: str, b: str) -> F.Column:
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), 0D, (s, v) -> s + v)")


def _norm(a: str) -> F.Column:
    return F.expr(f"sqrt(aggregate({a}, 0D, (s, v) -> s + cast(v as double) * cast(v as double)))")


def _cosine(a: str, b: str) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _top_k(scored: DataFrame, k: int, q_id: str, c_id: str) -> DataFrame:
    """The k best-scored rows per ``q_id`` of a (q_id, c_id, sim) table,
    ranked by sim DESC with ties broken by c_id ASC: (q_id, rank, c_id,
    sim), the output of every cosine search here."""
    win = Window.partitionBy(q_id).orderBy(F.col("sim").desc(), F.col(c_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(q_id, "rank", c_id, "sim")
    )


def cosine_top_k(queries: DataFrame, corpus: DataFrame, k: int,
                 *, q_id: str = "q_id", q_vec: str = "q_vec",
                 c_id: str = "c_id", c_vec: str = "c_vec") -> DataFrame:
    """Exact brute-force top-k: for each query vector the k most cosine-
    similar corpus vectors. Broadcast the query side (queries are the
    small side by construction); ties broken by c_id ASC for determinism.
    Output: (q_id, rank, c_id, sim).

    r6: norms are computed once per INPUT row on each side before the
    cross join (|Q| + |C| interpreted-lambda norm evaluations instead of
    2 x |Q| x |C| — guide §1.2 per-task work). The per-pair expression is
    the identical ``dot / (q_norm * c_norm)`` double arithmetic, so sims
    (and therefore ranks) are bit-unchanged. The corpus side is spread to
    the cluster's parallelism first: a single-split scan otherwise runs
    the whole O(|Q| x |C| x dim) scoring stage on one core (§2.5)."""
    from liblevenshtein_rust_spark.operators.skew import spread_input
    qn = queries.withColumn("_qn", _norm(q_vec))
    cn = spread_input(corpus).withColumn("_cn", _norm(c_vec))
    joined = F.broadcast(qn).crossJoin(cn)
    scored = joined.select(
        F.col(q_id), F.col(c_id),
        (_dot(q_vec, c_vec) / (F.col("_qn") * F.col("_cn"))).alias("sim"),
    )
    return _top_k(scored, k, q_id, c_id)


def make_signature_udf(n_planes: int, seed: int):
    """Pandas UDF: embedding -> deterministic random-hyperplane sign
    signature (int64 bitmask).

    One numpy matmul per Arrow batch computes ALL plane dot products at
    once ([B, dim] @ [dim, planes]) — the previous SQL higher-order-function
    version re-evaluated an interpreted O(dim) aggregate per plane per row
    (O(planes x dim) row-at-a-time work; see dedup.minhash_signatures for
    why lambda expressions are the wrong shape). The plane matrix is a
    seeded PCG64 draw — bit-reproducible across executors, runs, and batch
    boundaries (regenerated per (seed, dim), cached per process)."""
    from pyspark.sql.functions import pandas_udf

    if not 1 <= n_planes <= 63:
        raise ValueError("n_planes must be in [1, 63] (int64 sign bitmask)")
    planes_cache: dict[int, np.ndarray] = {}

    @pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series(np.empty(0, dtype=np.int64))
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        dim = V.shape[1]
        P = planes_cache.get(dim)
        if P is None:
            rng = np.random.default_rng(seed)
            P = rng.standard_normal((dim, n_planes))
            planes_cache[dim] = P
        bits = (V @ P) > 0.0                       # [B, n_planes]
        weights = np.left_shift(np.int64(1), np.arange(n_planes, dtype=np.int64))
        return pd.Series(bits.astype(np.int64) @ weights)

    return _sig


def _train_centroids(corpus: DataFrame, c_vec: str, n_centroids: int,
                     seed: int, sample_limit: int, c_id: str) -> np.ndarray:
    """Seeded Lloyd k-means on a BOUNDED, deterministic sample.

    The sample (first ``sample_limit`` vectors by id order) is the only
    data that ever reaches the driver — the adaptive-stats pattern, same
    budget MLlib's k-means pays per iteration for its centroid sync.
    Centroids are L2-normalized so assignment argmax(dot) = argmax(cosine).
    """
    rows = (corpus.orderBy(c_id).limit(sample_limit)
            .select(c_vec).collect())
    if not rows:
        return None   # empty corpus: caller returns an empty result
    X = np.array([list(r[0]) for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    n_centroids = min(n_centroids, len(X))
    C = X[rng.choice(len(X), size=n_centroids, replace=False)]
    for _ in range(10):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(n_centroids):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def cosine_top_k_ivf(queries: DataFrame, corpus: DataFrame, k: int,
                     *, q_id: str = "q_id", q_vec: str = "q_vec",
                     c_id: str = "c_id", c_vec: str = "c_vec",
                     n_centroids: int = 16, n_probe: int = 4,
                     seed: int = 42, sample_limit: int = 10_000) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned
    to their nearest centroid (one cell each); each query probes its
    ``n_probe`` nearest cells and scores only those candidates exactly.

    The centroid table is trained once on a bounded sample and shipped to
    executors inside the assignment UDF (tiny: n_centroids x dim floats).
    Candidate count per query is ~ |corpus| * n_probe / n_centroids —
    the classic IVF recall/cost dial. Output schema matches cosine_top_k;
    recall < 1 by design (cell-boundary misses).
    """
    C = _train_centroids(corpus, c_vec, n_centroids, seed, sample_limit, c_id)
    if C is None:
        # empty corpus: same graceful empty result cosine_top_k produces
        # (c_id keeps the corpus column's type)
        return (queries.crossJoin(corpus.select(c_id))
                .select(F.col(q_id), F.lit(1).alias("rank"), F.col(c_id),
                        F.lit(0.0).alias("sim"))
                .where(F.lit(False)))
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        sims = V @ C.T
        order = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    ck = corpus.select(
        F.col(c_id), F.col(c_vec),
        F.element_at(_cells(F.col(c_vec)), 1).alias("_cell"))
    qk = queries.select(
        F.col(q_id), F.col(q_vec),
        F.explode(_cells(F.col(q_vec))).alias("_cell"))
    cand = (
        qk.join(ck, "_cell")
        .dropDuplicates([q_id, c_id])
        .select(F.col(q_id), F.col(c_id), _cosine(q_vec, c_vec).alias("sim"))
    )
    return _top_k(cand, k, q_id, c_id)


def _band_key_expr(n_planes: int, n_bands: int) -> str:
    """SQL expression turning the int64 signature column ``_sig`` into the
    array of banded LSH keys — shared by every LSH bucketing path here.
    Each band hashes ``n_planes // n_bands`` plane bits; leftover planes
    (n_planes % n_bands) are unused, so keep the plane count a multiple of
    the band count."""
    rows_per = n_planes // n_bands
    return (f"transform(sequence(0, {n_bands - 1}), b -> "
            f"xxhash64(b, (_sig >> (b * {rows_per})) & {(1 << rows_per) - 1}))")


def _band_keys(df: DataFrame, id_col: str, vec_col: str, sig_udf,
               n_planes: int, n_bands: int) -> DataFrame:
    """Exploded (_bid, _bkey) band-key table of ``df``'s vectors."""
    return df.select(F.col(id_col).alias("_bid"),
                     sig_udf(F.col(vec_col)).alias("_sig")) \
        .selectExpr("_bid", f"explode({_band_key_expr(n_planes, n_bands)}) AS _bkey")


def cosine_top_k_lsh(queries: DataFrame, corpus: DataFrame, k: int,
                     *, q_id: str = "q_id", q_vec: str = "q_vec",
                     c_id: str = "c_id", c_vec: str = "c_vec",
                     n_planes: int = 12, n_bands: int = 6,
                     seed: int = 42) -> DataFrame:
    """Approximate top-k: bucket by random-hyperplane band signatures,
    score only colliding pairs. Recall < 1 by design; the scale path for
    corpora where brute force is infeasible (candidate count is
    |collisions|, not |Q| x |C|). Output schema matches cosine_top_k, and
    so does the meaning of a repeated id: every input row is scored with
    its own vector, so a corpus id on two rows can take two ranks of a
    query, and a query id on two rows ranks the candidates of both."""
    sig_udf = make_signature_udf(n_planes, seed)
    scored = _blocked_join(
        (_band_keys(queries, q_id, q_vec, sig_udf, n_planes, n_bands),
         _band_keys(corpus, c_id, c_vec, sig_udf, n_planes, n_bands)),
        queries, corpus, (q_id, q_vec, c_id, c_vec),
        lambda pairs: pairs.withColumn("sim", _cosine("_ta", "_tb")),
        [("_ida", q_id), ("_idb", c_id), ("sim", "sim")])
    return _top_k(scored, k, q_id, c_id)


def cosine_near_dup_pairs(df: DataFrame, threshold: float,
                          *, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          method: str = "lsh",
                          n_planes: int = 12, n_bands: int = 6,
                          seed: int = 42) -> DataFrame:
    """Embedding-cosine near-duplicate SELF-join: all unordered pairs
    (id_a < id_b) with cosine(a, b) >= threshold — the embedding-space
    member of the dedup family (exact / minhash / simhash / jaccard /
    cosine).

    method="exact": full self-join — the exactness baseline (quadratic;
    fine for oracle checks and small dims tables, never the scale path).
    method="lsh": banded random-hyperplane buckets — only colliding pairs
    are scored, the same signature/band machinery as cosine_top_k_lsh;
    recall < 1 by design and measured against exact in
    tests/test_similarity.py. It runs through the fuzzy join's core
    (``fuzzy_join._blocked_join``): the band-key join ships (id, int64)
    only, the one key table is exchanged once so the signature UDF runs
    once, and vectors are attached to surviving candidate pairs
    afterwards.

    Output: (id_a, id_b, sim).
    """
    if method == "exact":
        # r6: hoist each side's norm above the quadratic self-join (same
        # bit-exact rewrite as cosine_top_k); spread the single-split scan
        from liblevenshtein_rust_spark.operators.skew import spread_input
        base = spread_input(df.select(id_col, vec_col))
        a = base.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("_va"),
                        _norm(vec_col).alias("_na"))
        b = base.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("_vb"),
                        _norm(vec_col).alias("_nb"))
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
        return (cand.select(
                    "id_a", "id_b",
                    (_dot("_va", "_vb") / (F.col("_na") * F.col("_nb")))
                    .alias("sim"))
                .where(F.col("sim") >= float(threshold)))
    if method != "lsh":
        raise ValueError(f"unknown method {method!r}")
    keys = _band_keys(df, id_col, vec_col, make_signature_udf(n_planes, seed),
                      n_planes, n_bands)
    return _blocked_join((keys, keys), df, None, (id_col, vec_col) * 2,
                         lambda pairs: pairs.withColumn(
                             "sim", _cosine("_ta", "_tb"))
                         .where(F.col("sim") >= float(threshold)),
                         [("_ida", "id_a"), ("_idb", "id_b"), ("sim", "sim")])
