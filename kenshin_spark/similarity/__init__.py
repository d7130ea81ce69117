"""Similarity search over embedding columns.

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
- ``lsh_topk``: banded random-hyperplane LSH — the scale path. Signatures
  are ``bands`` independent ``rows_per_band``-bit sketches; a candidate
  must collide in ANY band (OR-amplification), optionally widened by
  multi-probe (Hamming-1 bit flips of the query's band signatures).
  Hyperplanes are derived deterministically from md5(seed, plane, dim),
  so both engines (and reruns) agree without an RNG.
- ``ivf_topk``: IVF (inverted-file) ANN — a coarse quantizer partitions
  the corpus into cells; a query scans only its ``n_probe`` nearest
  cells. The classic 100 TB layout: cells map to Parquet partitions, so
  a probe is a partition-pruned scan. ``ivf_cell_stats`` is its
  index-health view; ``similarity.pq`` holds the product quantizer.

One quantizer serves IVF, PQ and SemDeDup sub-cells: the cells are the
``md5(cast(id as string))``-smallest corpus rows
(``functions.vectors.md5_sample``) and assignment is the fold-exact
``cc − 2·fold(x, c)`` argmin, ties to the smallest cell
(``functions.vectors.nearest_cells``). Both are expressions DuckDB
evaluates identically, so assignment, probe selection and the final
ranking replay bit for bit in SQL. The state is the k-means
initialisation: there is no training loop, knob or seed. Lloyd
iterations would recall more (on the sf0.001 corpus, 8 cells and 3
probes find 23 of the 50 exact top-10 results; ten iterations find 33),
but a mean's summation order does not replay across engines.

Vectorization: signature and cell-assignment math is one Arrow UDF
each (numpy per batch) — Spark's higher-order functions
(``aggregate``/``zip_with``) are CodegenFallback (interpreted), and at
64 planes x 64 dims the interpreted per-row cost would dominate the job
at scale. Every exact cosine is the one numpy left-fold of
``functions.vectors``, bit-aligned with the DuckDB oracle (a BLAS matmul
changes summation order; sign tests tolerate that, 6-dp rounded cosines
might not): ``brute_force_topk`` and ``range_search`` score every pair
(``cosine_pairs``); the LSH, IVF and PQ re-rank verifies stream their
candidate corpus rows against the broadcast queries (``score_pairs``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from kenshin_spark.functions.vectors import (
    _matrix,
    _rounded,
    cells_udf,
    cosine_pairs,
    md5_sample,
    score_pairs,
)

# Band geometry for hyperplane LSH. At near-dup thresholds (cosine >= 0.8)
# a band is selective AND recalls well; the synthetic corpus' 0.4
# threshold (theta ~ 66 deg) is the hard regime — 16 bands x 4 planes
# gives ~94% pair recall there. Tune per workload: recall of a pair with
# per-plane agreement p is 1 - (1 - p^rows_per_band)^bands.
N_BANDS = 16
PLANES_PER_BAND = 4


def _topk(scored: DataFrame, k: int, score_col: str) -> DataFrame:
    """``(query_id, neighbor_id, rank, score_col)``: the ``k`` best
    ``score_col`` per query, ties by neighbor id, NULL scores last."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), score_col)
    )


def _verified_topk(
    rows: DataFrame, queries: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """``_topk`` of candidate corpus rows ``(neighbor_id, _cv,
    query_id)`` by their exact cosine, rounded to 6 dp: the rows stream
    through the fold kernel against the broadcast queries."""
    scored = score_pairs(
        rows.select("neighbor_id", "_cv", "query_id"), queries,
        ("neighbor_id", "query_id"), vec="_cv", id_col=id_col, vec_col=vec_col,
    )
    return _topk(
        scored.select(
            "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine")
        ),
        k,
        "cosine",
    )


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
    return _topk(scored, k, "cosine")


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
    """Arrow UDF: embedding -> array of ``bands`` band signatures,
    band b's signature packing the sign bits of planes
    ``[b*rows_per_band, (b+1)*rows_per_band)`` little-endian; NULL for a
    vector that is not whole (NULL, or holding a NULL), so it yields no
    band rows, as the exact kernels give it no pair.

    One numpy matmul per Arrow batch ((n, dim) @ (dim, planes)); the sign
    test matches the oracle's ``list_dot_product(...) >= 0`` — summation
    order differs (BLAS) but plane dots are O(1) magnitude, so a sign flip
    needs |dot| at float rounding scale (~1e-16; measured corpus minimum
    margin is 1e-5).
    """
    P = np.array(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = 1 << np.arange(rows_per_band, dtype=np.int64)

    @arrow_udf("array<long>")
    def _sigs(vecs: pa.Array) -> pa.Array:
        X, ok = _matrix(vecs, P.shape[0])
        bits = ((X @ P) >= 0).astype(np.int64)
        M = (bits.reshape(len(X), bands, rows_per_band) * weights).sum(axis=2)
        return pa.ListArray.from_arrays(
            np.arange(0, M.size + 1, bands, dtype=np.int32),
            M.ravel(),
            mask=pa.array(~ok),
        )

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
    through a distinct. Verify joins the candidate set (broadcast) into
    the corpus scan and scores those rows on the fold kernel against the
    broadcast queries. Same output schema as ``brute_force_topk``.
    """
    planes = _hyperplane(dim, bands * rows_per_band)
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
    rows = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).join(F.broadcast(cand), "neighbor_id")
    return _verified_topk(rows, queries, k, id_col, vec_col)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k over ``n_cells`` md5-sample cells, probing each
    query's ``n_probe`` nearest.

    Every corpus vector is assigned to its nearest cell once (cells =
    Parquet partitions at scale, so a probe is partition pruning); the
    tiny probe side — one row per (query, probed cell) — broadcasts, and
    the exact cosine verify runs over probed cells only. The quantizer is
    one small driver collect (``n_cells`` rows); assignment and probe
    selection are one Arrow ``pandas_udf`` each on the fold kernel, so
    the SQL oracle replays them bit for bit.

    Approximate (recall grows with n_probe; ``n_probe = n_cells`` equals
    ``brute_force_topk``); same output schema as ``brute_force_topk``.
    """
    C = md5_sample(embeddings, n_cells, id_col, vec_col)
    assigned = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        cells_udf(C)(F.col(vec_col)).alias("cell"),
    )
    probe = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(cells_udf(C, n_probe)(F.col(vec_col))).alias("cell"),
    )
    rows = assigned.join(F.broadcast(probe), "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _verified_topk(rows, queries, k, id_col, vec_col)


def ivf_cell_stats(
    embeddings: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-health view of the IVF coarse quantizer: per-cell
    population and balance factor — ``(cell, n_vectors, balance)`` where
    balance = n_vectors · n_cells / N (1.0 = perfectly even; a hot cell
    >> 1 means probes over-scan and, at 100 TB, a skewed Parquet
    partition).

    This is the monitoring query run after (re)building an IVF index;
    assignment is ``ivf_topk``'s, so the SQL oracle replays it bit for
    bit. One partial-agg shuffle keyed by cell id; output is n_cells
    rows."""
    C = md5_sample(embeddings, n_cells, id_col, vec_col)
    total = embeddings.count()  # scalar agg (oracle's count(*))
    return (
        embeddings.select(cells_udf(C)(F.col(vec_col)).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.round(F.col("n_vectors") * float(n_cells) / total, 6).alias(
                "balance"
            ),
        )
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

    Same scale shape as brute_force_topk, on the same fold kernel: the
    corpus stays partitioned, queries broadcast, and the threshold
    filter replaces the window —
    so there is NO per-query sort at all, just a scan-and-filter
    (cheaper than top-k at scale). The LSH/IVF banded variants bound
    the scan the same way they bound top-k probes."""
    pairs = cosine_pairs(
        embeddings, queries, ("neighbor_id", "query_id"), keep="ne",
        threshold=threshold, id_col=id_col, vec_col=vec_col, fan_out=False,
    )
    return _rounded(pairs, ["query_id", "neighbor_id"], threshold)
