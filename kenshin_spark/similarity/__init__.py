"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
- ``lsh_topk``: banded random-hyperplane LSH — the scale path. Signatures
  are ``bands`` independent ``rows_per_band``-bit sketches; a candidate
  must collide in ANY band (OR-amplification), optionally widened by
  multi-probe (Hamming-1 bit flips of the query's band signatures).
  Hyperplanes are derived deterministically from md5(seed, plane, dim),
  so both engines (and reruns) agree without an RNG.
- ``ivf_topk``: IVF (inverted-file) ANN — a k-means coarse quantizer
  partitions the corpus into cells; a query scans only its ``n_probe``
  nearest cells. The classic 100 TB layout: cells map to Parquet
  partitions, so a probe is a partition-pruned scan.

Vectorization: signature and cell-assignment math is one Arrow
``pandas_udf`` (numpy matmul per batch) — Spark's higher-order functions
(``aggregate``/``zip_with``) are CodegenFallback (interpreted), and at
64 planes x 64 dims the interpreted per-row cost would dominate the job
at scale. Exact cosines are a sequential left-fold, bit-aligned with
the DuckDB oracle (a BLAS matmul changes summation order; sign tests
tolerate that, 6-dp rounded cosines might not): ``brute_force_topk``
runs it in numpy (``functions.vectors.cosine_pairs``), the LSH and IVF
verifies as a JVM ``zip_with``/``aggregate`` fold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kenshin_spark.functions.vectors import cosine_pairs, cosine_similarity

# Band geometry for hyperplane LSH. At near-dup thresholds (cosine >= 0.8)
# a band is selective AND recalls well; the synthetic corpus' 0.4
# threshold (theta ~ 66 deg) is the hard regime — 16 bands x 4 planes
# gives ~94% pair recall there. Tune per workload: recall of a pair with
# per-plane agreement p is 1 - (1 - p^rows_per_band)^bands.
N_BANDS = 16
PLANES_PER_BAND = 4


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector: ``(query_id, neighbor_id,
    rank, cosine)``. Ties broken by neighbor id (deterministic); a NULL
    cosine (zero or NULL vector) ranks last.

    The queries are broadcast and the corpus stays partitioned as it is
    (the window shuffles next), scored on the numpy fold kernel
    (``functions.vectors.cosine_pairs``); the 6-dp rounding and the
    per-query top-k window run in the JVM — at scale swap the window for
    a ``groupBy(query).agg(max_heap)`` pattern, semantics identical.
    """
    scored = cosine_pairs(
        embeddings, queries, ("neighbor_id", "query_id"), keep="ne",
        id_col=id_col, vec_col=vec_col, fan_out=False,
    ).select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cosine")
    )


def _hyperplane(dim: int, n_planes: int, seed: str = "ksp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) is derived
    from md5(f"{seed}:{p}:{d}") mapped to [-1, 1). No RNG state."""
    planes = []
    import hashlib

    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append(h / float(1 << 60) * 2.0 - 1.0)
        planes.append(row)
    return planes


def band_signatures_udf(planes: list[list[float]], bands: int, rows_per_band: int):
    """Arrow pandas_udf: embedding -> array of ``bands`` band signatures,
    band b's signature packing the sign bits of planes
    ``[b*rows_per_band, (b+1)*rows_per_band)`` little-endian.

    One numpy matmul per Arrow batch ((n, dim) @ (dim, planes)); the sign
    test matches the oracle's ``list_dot_product(...) >= 0`` — summation
    order differs (BLAS) but plane dots are O(1) magnitude, so a sign flip
    needs |dot| at float rounding scale (~1e-16; measured corpus minimum
    margin is 1e-5).
    """
    P = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = 1 << np.arange(rows_per_band, dtype=np.int64)

    @pandas_udf("array<long>")
    def _sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        bits = ((X @ P) >= 0).astype(np.int64)
        M = (bits.reshape(len(X), bands, rows_per_band) * weights).sum(axis=2)
        return pd.Series(list(M))

    return _sigs


def _band_rows(
    df: DataFrame, planes, bands: int, rows_per_band: int, id_alias: str,
    id_col: str, vec_col: str,
) -> DataFrame:
    """``(id, band, sig)`` — one row per (vector, band)."""
    sigs = band_signatures_udf(planes, bands, rows_per_band)
    return df.select(
        F.col(id_col).alias(id_alias), sigs(F.col(vec_col)).alias("_sigs")
    ).select(id_alias, F.posexplode("_sigs").alias("band", "sig"))


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bands: int = N_BANDS,
    rows_per_band: int = PLANES_PER_BAND,
    dim: int = 64,
    multi_probe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k with banded OR-amplification: a corpus vector is a
    candidate for a query iff they share ANY band signature; with
    ``multi_probe`` the query also probes every Hamming-1 neighbor of
    each band signature (``rows_per_band`` bit flips — r extra buckets
    per band on the tiny query side only, recall of a near-miss band
    goes from p^r to p^r + r*p^(r-1)*(1-p)).

    Plan shape (scale path): corpus explodes to ``bands`` narrow
    ``(id, band, sig)`` rows joined against the BROADCAST probe rows —
    the corpus is never shuffled; only the candidate id-pairs pass
    through a distinct. Verify joins the candidate set (broadcast) back
    against the corpus scan for the exact cosine. Same output schema as
    ``brute_force_topk``.
    """
    planes = _hyperplane(dim, bands * rows_per_band)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c_bands = _band_rows(
        embeddings, planes, bands, rows_per_band, "neighbor_id", id_col, vec_col
    )
    q_bands = _band_rows(
        queries, planes, bands, rows_per_band, "query_id", id_col, vec_col
    )
    if multi_probe:
        probe_set = F.array(
            F.col("sig"),
            *[F.col("sig").bitwiseXOR(F.lit(1 << i)) for i in range(rows_per_band)],
        )
        q_bands = q_bands.select(
            "query_id", "band", F.explode(probe_set).alias("sig")
        )
    cand = (
        c_bands.join(F.broadcast(q_bands), ["band", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    candv = cand.join(F.broadcast(q), "query_id")
    scored = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
        )
        .join(F.broadcast(candv), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cosine")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k: k-means coarse quantizer cells + multi-probe.

    Train a seeded k-means over the corpus, assign every corpus vector to
    its cell, and compare each query only against its ``n_probe`` closest
    cells' members. At scale: write the corpus partitioned by ``cell`` and
    the probe becomes partition pruning; the centroid table
    (n_cells x dim) broadcasts everywhere.

    The quantizer trains driver-side on a bounded, hash-ordered sample
    (the FAISS approach — IVF quantizers train on a subset regardless of
    corpus size), so training is one small collect + local Lloyd
    iterations instead of a multi-job distributed KMeans. Cell assignment
    is one Arrow ``pandas_udf`` (numpy ``X @ C.T`` per batch) — the
    former per-row ``aggregate(zip_with(...))`` expressions were
    CodegenFallback (interpreted) and dominated the whole bench.

    Approximate (recall grows with n_probe); same output schema as
    ``brute_force_topk``.
    """
    sample = (
        embeddings.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        # hash-ordered → uniform, deterministic sample independent of layout
        .orderBy(F.xxhash64(F.col("_id").cast("string"), F.lit(seed)), F.col("_id"))
        .limit(4096)
        .collect()
    )
    X = np.array([r._v for r in sample], dtype=np.float64)
    n_cells = min(n_cells, len(X))
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), size=n_cells, replace=False)].copy()
    xx = (X * X).sum(axis=1)
    for _ in range(10):
        # ||x-c||² = ||x||² - 2x·c + ||c||² (matmul form, BLAS-fast)
        d2 = xx[:, None] - 2.0 * (X @ cent.T) + (cent * cent).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    C = cent.copy()  # (n_cells, dim), closure-captured by the udfs
    cc = (C * C).sum(axis=1)

    def _dists(v: pd.Series) -> np.ndarray:
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        # argmin/argsort of squared L2; ||x||² is row-constant, drop it
        return -2.0 * (X @ C.T) + cc[None, :]

    @pandas_udf("int")
    def _assign_cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        # np.argmin takes the FIRST minimum — deterministic ties
        return pd.Series(_dists(v).argmin(axis=1).astype("int32"))

    @pandas_udf("array<int>")
    def _probe_cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        order = np.argsort(_dists(v), axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype("int32")))

    assigned = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _assign_cell(F.col(vec_col)).alias("cell"),
    )

    probe = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(_probe_cells(F.col(vec_col))).alias("cell"),
    )

    scored = (
        assigned.join(F.broadcast(probe), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("_qv"), F.col("_cv")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), "cosine")
    )


def range_search(
    embeddings: DataFrame,
    queries: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Range query — ALL neighbors within cosine ≥ threshold of each
    query vector: ``(query_id, neighbor_id, cosine)``. The radius
    companion to top-k (dedup/recall audits want "everything this
    close", not a fixed k).

    Same scale shape as brute_force_topk: the corpus stays partitioned,
    queries broadcast, and the threshold filter replaces the window —
    so there is NO per-query sort at all, just a scan-and-filter
    (cheaper than top-k at scale). The LSH/IVF banded variants bound
    the scan the same way they bound top-k probes."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    return (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("_qv"), F.col("_cv")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
