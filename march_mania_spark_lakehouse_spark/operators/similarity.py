"""Embedding similarity search (north-star E3).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant
is the 100 TB path (candidate generation touches only same-bucket pairs,
so cost is Σ bucket² instead of |Q|·|C|).

Precision contract: dot products cast each float32 element to double and
fold in index order (``F.zip_with`` + ``F.aggregate`` is a left-to-right
fold), which makes scores bit-reproducible against a serial oracle that
sums ``CAST(a[i] AS DOUBLE)*CAST(b[i] AS DOUBLE)`` in index order.
Rankings are taken over scores rounded to 4 decimals with a deterministic
id tiebreak.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.operators.core import rebalance_scan


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, index order (bit-reproducible)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail for every top-k path (exact, LSH, IVF): the
    same (cosine desc, c_id asc) total order everywhere, so the recall
    tests compare approximate paths against an identically-ranked exact
    baseline."""
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def cosine_topk_bruteforce(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (small) is broadcast against the candidate corpus, so the
    candidate side never shuffles for the join; the per-query top-k is one
    window shuffle keyed by query id. Output: (q_id, c_id, cosine) with
    cosine rounded for rank stability.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = rebalance_scan(candidates).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .withColumn("cosine", F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits))
        .select("q_id", "c_id", "cosine")
    )
    return _topk_per_query(scored, k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for sign-LSH bucketing."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def table_buckets_vectorized(
    dim: int, n_planes: int, n_tables: int, seed: int
):
    """Arrow-vectorized multi-table sign-LSH bucketing: ONE float64 GEMM
    per Arrow batch against the stacked ``(n_tables·n_planes, dim)``
    hyperplane matrix, then a bit-pack per table — replaces
    ``n_tables·n_planes`` interpreted ``zip_with`` dot folds per row.
    Returns a pandas UDF mapping the vector column to ``array<long>``
    (bucket of table t at index t). Both sides of the LSH join use the
    same function, so sign decisions are consistent even at the float
    boundary."""
    from pyspark.sql.functions import pandas_udf

    planes = np.vstack(
        [random_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )  # (n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # np.stack raises on an empty Arrow batch
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (mat @ planes.T >= 0).reshape(len(mat), n_tables, n_planes)
        out = (signs * weights).sum(axis=2)  # (n, n_tables) int64
        return pd.Series(list(out))

    return _buckets


def pair_cosine_vectorized():
    """Arrow-vectorized cosine for already-materialized candidate pairs:
    one einsum + two norms per Arrow batch instead of an interpreted
    per-element fold per pair. Used on approximate (rows-only) paths;
    exact oracle paths keep the bit-reproducible index-order fold."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        if len(qv) == 0:  # np.stack raises on an empty Arrow batch
            return pd.Series([], dtype=np.float64)
        q = np.stack([np.asarray(v, dtype=np.float64) for v in qv])
        c = np.stack([np.asarray(v, dtype=np.float64) for v in cv])
        num = np.einsum("ij,ij->i", q, c)
        den = np.linalg.norm(q, axis=1) * np.linalg.norm(c, axis=1)
        return pd.Series(num / den)

    return _cos


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    batch: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    cosine ≥ threshold and id_a < id_b.

    With ``batch`` given, every pair with at least one member in the
    batch is scored regardless of id order (ids are canonicalized with
    least/greatest afterwards, so new arrivals with the highest ids are
    still paired against the whole corpus) — the incremental-dedup shape:
    the batch side broadcasts, so the corpus never shuffles and cost is
    |batch|·|corpus|, not |corpus|². Without it, exact all-pairs — the
    correctness baseline only; at corpus scale the identical scoring runs
    over LSH candidate pairs instead (``cosine_topk_lsh``'s bucket join),
    turning O(n²) into Σ bucket². Norms are computed once per side before
    the join so no norm work repeats per pair.
    """

    def prep(side: DataFrame, suffix: str) -> DataFrame:
        return side.select(
            F.col(id_col).alias(f"id_{suffix}"),
            F.col(vec_col).alias(f"vec_{suffix}"),
            l2_norm(F.col(vec_col)).alias(f"norm_{suffix}"),
        )

    b = prep(rebalance_scan(df), "b")
    if batch is not None:
        # batch×corpus, both orientations covered by one asymmetric join;
        # canonicalize ids and drop the in-batch duplicates afterwards.
        a = F.broadcast(prep(batch, "a"))
        pairs = a.join(b, F.col("id_a") != F.col("id_b"))
    else:
        a = prep(df, "a")
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn(
        "cosine",
        F.round(
            dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b")),
            round_digits,
        ),
    ).filter(F.col("cosine") >= threshold)
    out = scored.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "cosine",
    )
    return out.dropDuplicates(["id_a", "id_b"]) if batch is not None else out


def cosine_topk_ivf(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_digits: int = 4,
    max_iter: int = 8,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization.

    The other 100 TB scale path next to sign-LSH: KMeans (MLlib, seeded)
    learns ``n_cells`` centroids on a bounded sample (≤256·n_cells rows —
    quantizer quality needs a sample, not the corpus); every candidate is
    assigned to its nearest centroid once (one scan); each query probes
    only its ``n_probe`` nearest cells. Scoring cost per query drops from
    |corpus| to ~(n_probe/n_cells)·|corpus|, and the candidate side joins
    on the tiny broadcast (query, cell) pairs — no corpus shuffle.

    Training vectors are L2-normalized first: on the unit sphere,
    Euclidean KMeans partitions by direction (‖a−b‖² = 2−2·cosθ), which
    makes the Euclidean-trained cells consistent with the cosine-based
    cell assignment below.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    unit = F.transform(
        F.col(vec_col), lambda x: x.cast("double") / l2_norm(F.col(vec_col))
    )
    train = (
        candidates.select(array_to_vector(unit).alias("features"))
        .limit(256 * n_cells)
    )
    km = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(train)
    centroids = [[float(x) for x in c] for c in km.clusterCenters()]

    def nearest_cells(vec: Column, n: int) -> Column:
        """array of the n nearest centroid ids by cosine (literal centroids
        → the whole ranking stays in codegen, no model broadcast needed)."""
        scored = F.array(
            *[
                F.struct(
                    cosine(vec, F.array(*[F.lit(float(x)) for x in cen])).alias("s"),
                    F.lit(i).alias("cell"),
                )
                for i, cen in enumerate(centroids)
            ]
        )
        top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
        return F.transform(top, lambda s: s["cell"])

    c = rebalance_scan(candidates).select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        nearest_cells(F.col(vec_col), 1).getItem(0).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(nearest_cells(F.col(vec_col), n_probe)).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn(
            "cosine",
            F.round(
                pair_cosine_vectorized()(F.col("q_vec"), F.col("c_vec")),
                round_digits,
            ),
        )
        .select("q_id", "c_id", "cosine")
    )
    return _topk_per_query(scored, k)


def cosine_topk_lsh(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 3,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_digits: int = 4,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH (OR-amplification).

    The 100 TB path: each of ``n_tables`` hash tables buckets the corpus
    by ``n_planes`` hyperplane signs; a pair is compared iff it collides
    in ≥1 table, so the join is equi-on-(table, bucket) instead of a
    cross product. Recall ≈ 1−(1−p^b)^L with p = 1−θ/π — tune tables up
    for recall, planes up for selectivity. Scoring cost per query is
    Σ_table |bucket| instead of |corpus|.
    """
    buckets = table_buckets_vectorized(dim, n_planes, n_tables, seed)
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    c = rebalance_scan(candidates).select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    pairs = (
        c.join(F.broadcast(q), on=["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_vec", "c_id", "c_vec")
        .dropDuplicates(["q_id", "c_id"])
    )
    scored = pairs.withColumn(
        "cosine",
        F.round(pair_cosine_vectorized()(F.col("q_vec"), F.col("c_vec")), round_digits),
    ).select("q_id", "c_id", "cosine")
    return _topk_per_query(scored, k)


def cosine_topk_vectorized(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k via blocked numpy matmul — the production scoring path.

    The query set is collected once (it is small by contract) and closed
    over into a ``mapInPandas`` stage: each Arrow batch of candidates is
    one float64 GEMM against the query matrix, emitting only that batch's
    per-query top-k (≤ k·|Q| rows per batch). A final window pass merges
    the partial top-ks — the classic tree top-k, so the corpus is scanned
    once, never shuffled, and the shuffle input is k·|Q|·n_batches rows.

    Trade-off vs ``cosine_topk_bruteforce``: ~10× less per-pair overhead
    (BLAS instead of interpreted ``zip_with`` folds) but float summation
    order is BLAS-defined, not index-order — scores can differ from the
    serial oracle in the last ulp, so this variant is recall-tested
    against the exact baseline instead of oracle-hashed.
    """
    from collections.abc import Iterator

    import pandas as pd

    q_pd = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).toPandas()
    q_ids = q_pd["q_id"].to_numpy()
    q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in q_pd["q_vec"]])
    q_unit = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:  # np.stack raises on an empty batch
                continue
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            c_unit = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_unit @ q_unit.T  # (n_batch, n_q)
            out_q, out_c, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                mask = c_ids != qid
                idx = np.nonzero(mask)[0]
                if len(idx) == 0:
                    continue
                top = idx[np.argsort(-col[idx], kind="stable")[:k]]
                out_q.extend([qid] * len(top))
                out_c.extend(c_ids[top])
                out_s.extend(np.round(col[top], round_digits))
            yield pd.DataFrame({"q_id": out_q, "c_id": out_c, "cosine": out_s})

    partial = rebalance_scan(candidates).select(id_col, vec_col).mapInPandas(
        _score, schema="q_id long, c_id long, cosine double"
    )
    return _topk_per_query(partial, k)


# --------------------------------------------------------------------------
# Product quantization (PQ): compress each vector to m sub-space code
# bytes; score with asymmetric distance (ADC) against per-query lookup
# tables; optionally re-rank an ADC shortlist with exact cosine. The
# memory story at 100 TB: a 64-dim float32 corpus is 256 B/vector — PQ
# at m=16 is 16 B/vector (16×), so the scan that ADC does touches 6% of
# the bytes, and the exact re-rank touches only the shortlist.
# --------------------------------------------------------------------------


def pq_train(
    candidates: DataFrame,
    vec_col: str = "embedding",
    m: int = 16,
    k: int = 32,
    sample: int = 2048,
    iters: int = 12,
    seed: int = 42,
) -> np.ndarray:
    """Train PQ codebooks: split the (L2-normalized) dimension into m
    sub-spaces, k-means each on a bounded driver-side sample (Lloyd in
    numpy — deterministic for a fixed seed, and a 2048-vector sample is
    the codebook-training norm even for billion-vector corpora; the
    corpus itself never leaves the cluster). Returns (m, k, d/m)."""
    rows = candidates.select(vec_col).limit(sample).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, dsub))
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=k, replace=len(sub) < k)]
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    cent[c] = sub[mask].mean(axis=0)
        books[j] = cent
    return books


def pq_encode(
    candidates: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each (normalized) vector as its per-sub-space nearest
    centroid indices — Arrow-batched, one einsum per batch per
    sub-space. Output: (id_col, codes array<int>)."""
    m, k, dsub = codebooks.shape
    books = codebooks  # closure → shipped once per task

    def _enc(batches):
        for pdf in batches:
            V = np.array(list(pdf[vec_col]), dtype=np.float64)
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                sub = V[:, j * dsub : (j + 1) * dsub]
                d2 = (sub**2).sum(1)[:, None] - 2 * sub @ books[j].T + (
                    books[j] ** 2
                ).sum(1)[None, :]
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    out_schema = f"{id_col} long, codes array<int>"
    return rebalance_scan(candidates).select(id_col, vec_col).mapInPandas(
        _enc, schema=out_schema
    )


def cosine_topk_pq(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    n_centroids: int = 32,
    oversample: int = 8,
    rerank: bool = True,
    codebooks: "np.ndarray | None" = None,
    round_digits: int = 4,
) -> DataFrame:
    """PQ-ADC top-k: score every corpus CODE against per-query lookup
    tables (approximate dot of normalized vectors = Σ_j LUT[j, code_j]),
    shortlist ``k × oversample`` per query, then (default) re-rank the
    shortlist with EXACT cosine — so returned scores are exact and
    recall loss comes only from shortlist misses. The corpus is scanned
    as m-byte codes, never as floats; the exact pass touches only
    shortlist × queries rows. Output: (q_id, c_id, cosine)."""
    books = (
        pq_train(candidates, vec_col, m=m, k=n_centroids)
        if codebooks is None
        else codebooks
    )
    codes = pq_encode(candidates, books, id_col, vec_col)

    q_rows = queries.select(id_col, vec_col).collect()
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    q_ids = np.array([r[0] for r in q_rows])
    mm, kk, dsub = books.shape
    # per-query LUT: (nq, m, k) of dot(q_sub, centroid)
    luts = np.einsum("qjd,jkd->qjk", Q.reshape(len(Q), mm, dsub), books)
    shortlist_n = k * oversample

    def _score(batches):
        for pdf in batches:
            C = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            ids = pdf[id_col].to_numpy()
            for qi in range(len(q_ids)):
                approx = luts[qi][np.arange(mm)[None, :], C].sum(axis=1)
                keep = ~(ids == q_ids[qi])
                yield pd.DataFrame(
                    {
                        "q_id": q_ids[qi],
                        "c_id": ids[keep],
                        "approx": approx[keep],
                    }
                )

    scored = codes.mapInPandas(_score, schema="q_id long, c_id long, approx double")
    w = Window.partitionBy("q_id").orderBy(F.col("approx").desc(), F.col("c_id"))
    shortlist = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= shortlist_n)
        .drop("__rn")
    )
    if not rerank:
        return (
            shortlist.withColumn("cosine", F.round("approx", round_digits))
            .select("q_id", "c_id", "cosine")
            .withColumn("__rn", F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    cvec = candidates.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    qvec = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    exact = (
        shortlist.join(cvec, "c_id")
        .join(F.broadcast(qvec), "q_id")
        .withColumn("cosine", F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits))
        .select("q_id", "c_id", "cosine")
    )
    return _topk_per_query(exact, k)


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (Abbas et al. 2023): coarse-cluster the
# embedding space, drop any vector with a sufficiently-similar lower-id
# neighbor in its cluster. Here the coarse quantizer is axis-aligned
# sign bits — deterministic and engine-portable, so the whole operator
# is DuckDB-oracle-checkable (unlike a KMeans quantizer, whose centroids
# are fit-dependent — that variant is `cosine_topk_ivf`).
# --------------------------------------------------------------------------


def sign_cell(vec: Column, sign_dims: int = 4) -> Column:
    """Cell id from the sign bits of the first ``sign_dims`` coordinates
    (axis-aligned LSH): cell = Σ (vec[d] >= 0) · 2^(sign_dims-1-d)."""
    bits = [
        (vec.getItem(d) >= 0).cast("int") * (2 ** (sign_dims - 1 - d))
        for d in range(sign_dims)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sign_dims: int = 4,
    threshold: float = 0.35,
    round_digits: int = 6,
) -> DataFrame:
    """Surviving (id, cell) rows after SemDeDup pruning: a vector is
    dropped iff some lower-id vector in the same cell has cosine ≥
    ``threshold`` (rounded to ``round_digits`` so the comparison is
    identical in any engine). Deterministic: no model fit, no RNG —
    the keep-lowest-id rule makes the survivor set unique.

    Scale posture: pairs come from a within-cell self-join, Σ cell² not
    n²; norms are computed once per side; the drop set (ids only) joins
    back as a broadcast anti-join so the corpus never reshuffles. More
    ``sign_dims`` → exponentially more, smaller cells; near-boundary
    misses are the usual LSH trade-off and SemDeDup explicitly accepts
    per-cluster locality.
    """
    e = rebalance_scan(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        sign_cell(F.col(vec_col), sign_dims).alias("cell"),
        l2_norm(F.col(vec_col)).alias("norm"),
    )
    a = e.select(
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("cell"),
        F.col("norm").alias("norm_a"),
    )
    b = e.select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("cell"),
        F.col("norm").alias("norm_b"),
    )
    drops = (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                round_digits,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        e.join(F.broadcast(drops), on="id", how="left_anti")
        .select(F.col("id").alias(id_col), "cell")
    )


def portable_lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes: int = 8,
) -> DataFrame:
    """Sign-LSH band buckets from PORTABLE ±1 hyperplanes: plane
    (band b, bit p) has component i = ±1 by the parity of an integer
    hash of (i, b·planes+p) — pure arithmetic any SQL engine
    reproduces. Each signed dot sums FIXED-POINT INT64 components
    (round(x·1e9) — the q164 policy): integer addition is exact and
    associative, so the sum — and therefore the sign bit — is
    identical under any partitioning and in any engine (`cosine_topk_lsh_portable`'s oracle leans on
    this). Output: (id, band, bits) — one row per band, bits = the
    planes-wide sign word.

    Physical shape per the q132/q125 lesson: posexplode the vector
    ONCE → all bands·planes signed sums in a single codegen hash
    aggregate (one shuffle on the id). The map-only form (one
    interpreted array fold per plane) re-inlines the fold per plane —
    measured 6× slower at sf0.1. The Gaussian-plane variant
    (`table_buckets_vectorized`) stays the production path; this family exists to make an APPROXIMATE ANN path
    value-verifiable end-to-end, the role the portable MinHash family
    plays for q28."""
    ex = rebalance_scan(df).select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("i", "x"),
    ).select(
        id_col,
        "i",
        # fixed-point int64 component: exact+associative sums make the
        # sign bit partitioning- and engine-independent, and integer
        # lanes are far cheaper than decimal in the wide aggregate
        F.round(F.col("x").cast("double") * F.lit(1e9)).cast("long").alias("xq"),
    )
    # SQL-string expressions (the simhash_portable lesson): building
    # bands·planes lane aggregates operator-by-operator spends driver
    # time on py4j round trips every plan construction; one F.expr per
    # lane parses the identical tree
    lanes = [
        F.expr(
            f"sum(xq * (CASE WHEN (CAST(i + 1 AS LONG) * "
            f"{(2 * idx + 3) * 7919} + {101 * idx + 13}) % 1000000007 "
            f"% 2 = 0 THEN 1 ELSE -1 END))"
        ).alias(f"d{idx}")
        for idx in range(bands * planes)
    ]
    dots = ex.groupBy(id_col).agg(*lanes)
    band_cols = []
    for b in range(bands):
        bits = " + ".join(
            f"(CASE WHEN d{b * planes + p} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(planes)
        )
        band_cols.append(
            F.expr(f"struct({b} AS band, CAST({bits} AS LONG) AS bits)")
        )
    return dots.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bits").alias("bits"))


def cosine_topk_lsh_portable(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes: int = 8,
    round_digits: int = 4,
) -> DataFrame:
    """ANN top-k through portable sign-LSH buckets: candidates limited
    to vectors sharing ≥1 band bucket with the query (equi-join on
    (band, bits) — Σ bucket², the corpus never cross-joins), then
    exact double cosine on the candidates and the shared
    (cosine desc, id) ranking tail. Because buckets, dots, and ranks
    are all bit-reproducible, the FULL approximate pipeline
    hash-matches a DuckDB oracle (q200) — the one ANN path whose
    candidate set itself is value-verified, complementing the
    recall-tested murmur/Gaussian paths."""
    qb = portable_lsh_buckets(queries, id_col, vec_col, bands, planes)
    cb = portable_lsh_buckets(candidates, id_col, vec_col, bands, planes)
    pairs = (
        qb.alias("q")
        .join(
            cb.alias("c"),
            (F.col("q.band") == F.col("c.band"))
            & (F.col("q.bits") == F.col("c.bits"))
            & (F.col(f"q.{id_col}") != F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"q.{id_col}").alias("q_id"),
            F.col(f"c.{id_col}").alias("c_id"),
        )
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c = candidates.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        pairs.join(F.broadcast(q), "q_id")
        .join(c, "c_id")
        .withColumn(
            "cosine", F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits)
        )
        .select("q_id", "c_id", "cosine")
    )
    return _topk_per_query(scored, k)


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    keep: bool = True,
) -> DataFrame:
    """Embedding-space decontamination: drop every corpus row whose
    cosine against ANY eval-set embedding reaches ``threshold`` — the
    semantic twin of the n-gram/substring decontamination in
    operators/dedup.py (paraphrased eval leakage has no shared n-grams
    but lands next to the eval point in embedding space).

    Shape at 100 TB: the eval set is bounded (benchmarks are small) and
    BROADCASTS; the corpus never shuffles — cost is |corpus|·|eval|
    map-side work, embarrassingly parallel. Corpus norms are computed
    once before the join. ``keep=True`` returns survivors (the cleaned
    corpus); ``keep=False`` returns the contamination report
    (id, max_eval_cosine) for audit. Cosines are rounded to
    ``round_digits`` BEFORE thresholding (the engine-portable contract
    q51 established: index-ordered double folds round identically)."""
    c = corpus.select(
        F.col(id_col), F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    e = F.broadcast(
        eval_df.select(
            F.col(vec_col).alias("__ev"),
            l2_norm(F.col(vec_col)).alias("__en"),
        )
    )
    scored = (
        rebalance_scan(c)
        .join(e)
        .withColumn(
            "__cos",
            F.round(
                dot(F.col(vec_col), F.col("__ev"))
                / (F.col("__cn") * F.col("__en")),
                round_digits,
            ),
        )
        .groupBy(id_col)
        .agg(F.max("__cos").alias("max_eval_cosine"))
    )
    if keep:
        survivors = scored.filter(F.col("max_eval_cosine") < threshold)
        return corpus.join(
            survivors.select(id_col), on=id_col, how="left_semi"
        )
    return scored.filter(F.col("max_eval_cosine") >= threshold)
