"""Pinned-quantizer ANN variants — deterministic, SQL-replayable twins of
``ivf_topk`` / ``pq_topk`` for cross-engine verification.

The production IVF/PQ paths (``similarity/__init__.py``,
``similarity/pq.py``) train their quantizers with seeded Lloyd iterations
on a driver-side sample — deterministic across reruns, but a SQL oracle
cannot replay k-means means (group-aggregate summation order is not
reproducible across engines). These variants instead PIN the quantizer to
the k-means *initialisation* state: the centroids / codewords are the
embeddings of the ``n`` corpus rows with the smallest
``md5(cast(id as string))`` — an expression both Spark and DuckDB evaluate
identically — and every distance/score is computed as a sequential
left-fold (``((0 + x0*c0) + x1*c1) + ...``) so it is bit-identical to the
JVM ``aggregate(zip_with(...))`` fold and DuckDB's ``list_dot_product``
(the numpy fold lives in ``functions/vectors.py``).

Result: cell assignment, probe selection, PQ codes, ADC scores, and the
final ranking are bit-equal between the Spark plan and a pure-SQL replay —
these are the driver-oracled registry entries ``sim_topk_ivf`` /
``sim_topk_pq`` / ``sim_topk_pq_rerank``. Recall is a little below the
Lloyd-trained defaults (init-state quantizer), which pytest continues to
assert on the trained paths; the Spark plan shape — broadcast probes,
corpus never shuffled, cells → partition pruning at scale — is identical.

Reference parity: Kenshin itself has no ANN; this extends the engine for
LLM-pipeline workloads (brief: similarity search as first-class).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kenshin_spark.functions.vectors import (
    _fold_dots,
    _fold_self,
    cosine_similarity,
)


def md5_sample(
    embeddings: DataFrame, n: int, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """The ``n`` corpus vectors with smallest ``md5(cast(id as string))``
    (ties by id) — a deterministic, layout-independent, SQL-replayable
    uniform sample. This is the pinned quantizer's "training set": k-means
    init = n distinct-ish corpus points. Collect is n × dim doubles."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy(F.md5(F.col("_id").cast("string").cast("binary")), "_id")
        .limit(n)
        .collect()
    )
    return np.array([r._v for r in rows], dtype=np.float64)


def _topk(scored: DataFrame, k: int, score_col: str) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), score_col)
    )


def ivf_topk_pinned(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with the pinned md5-sample coarse quantizer. Same plan as
    ``ivf_topk`` — corpus assigned once (cells = Parquet partitions at
    scale), tiny probe side broadcast, exact cosine verify over probed
    cells only — but assignment/probe argmins use fold-exact arithmetic
    with ``ORDER BY (d2, cell)`` tie-breaks, so a SQL oracle replays them
    bit-for-bit."""
    C = md5_sample(embeddings, n_cells, id_col, vec_col)
    cc = _fold_self(C)

    def _d2(v: pd.Series) -> np.ndarray:
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        # ||x-c||² ranking: drop the row-constant ||x||²; cc - 2·(x·c)
        return cc[None, :] - 2.0 * _fold_dots(X, C)

    @pandas_udf("int")
    def _assign_cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        # argmin takes the FIRST minimum → ties to the smallest cell id,
        # matching the oracle's ORDER BY d2, c
        return pd.Series(_d2(v).argmin(axis=1).astype("int32"))

    @pandas_udf("array<int>")
    def _probe_cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        order = np.argsort(_d2(v), axis=1, kind="stable")[:, :n_probe]
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
            F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6).alias(
                "cosine"
            ),
        )
    )
    return _topk(scored, k, "cosine")


def _pq_scored_pinned(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """All (query, corpus) PQ ADC scores — ``(query_id, neighbor_id,
    score)`` with score = fold-dot(query, PQ-reconstruction), 6 dp.

    Codebook j is the j-th subvector slice of the ksub md5-sample rows
    (one shared sample, per-subspace slices — the PQ k-means init state).
    Encode is argmin over fold-exact subspace distances; the score is
    computed as the full-dimension left-fold against the reconstruction,
    which both equals the ADC table sum mathematically and bit-matches
    ``list_dot_product(q, flatten(codewords))`` in SQL."""
    S = md5_sample(embeddings, ksub, id_col, vec_col)  # (ksub, dim)
    dim = S.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # C[j]: (ksub, dsub) codewords; cc[j]: fold self-dots
    C = [S[:, j * dsub : (j + 1) * dsub].copy() for j in range(m)]
    cc = [_fold_self(C[j]) for j in range(m)]

    @pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            sub = X[:, j * dsub : (j + 1) * dsub]
            d2 = cc[j][None, :] - 2.0 * _fold_dots(sub, C[j])
            codes[:, j] = d2.argmin(axis=1)  # first-min = smallest code
        return pd.Series(list(codes))

    qrows = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).collect()
    qidx = {r.query_id: i for i, r in enumerate(qrows)}
    Q = np.array([r._qv for r in qrows], dtype=np.float64)

    @pandas_udf("double")
    def _adc(codes: pd.Series, qid: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        CO = np.array(list(codes), dtype=np.int64)  # (n, m)
        # reconstruct, then fold the FULL dim sequentially so the score is
        # bit-equal to list_dot_product(q, flatten(list(cw ORDER BY j)))
        R = np.concatenate([C[j][CO[:, j]] for j in range(m)], axis=1)
        Qv = Q[np.array([qidx[q] for q in qid], dtype=np.int64)]
        acc = np.zeros(len(CO), dtype=np.float64)
        for d in range(dim):
            acc += Qv[:, d] * R[:, d]
        return pd.Series(acc)

    coded = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _encode(F.col(vec_col)).alias("_codes"),
    )
    q = queries.select(F.col(id_col).alias("query_id"))
    return (
        coded.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_adc(F.col("_codes"), F.col("query_id")), 6).alias("score"),
        )
    )


def pq_topk_pinned(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ ADC top-k with the pinned md5-sample codebooks — the
    SQL-replayable twin of ``pq.pq_topk``. Output: ``(query_id,
    neighbor_id, rank, score)``."""
    scored = _pq_scored_pinned(embeddings, queries, m, ksub, id_col, vec_col)
    return _topk(scored, k, "score")


def pq_rerank_topk_pinned(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 50,
    m: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage serving stack, fully deterministic: pinned-PQ ADC recalls
    a ``candidates`` pool per query from the compressed codes (the only
    corpus-wide read), exact cosine re-ranks the pool against raw vectors.
    Both stages are SQL-replayable, so unlike ``pq.pq_rerank_topk`` this
    variant carries a full value-hash oracle. Output: ``(query_id,
    neighbor_id, rank, cosine)``."""
    pool = _topk(
        _pq_scored_pinned(embeddings, queries, m, ksub, id_col, vec_col),
        candidates,
        "score",
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = c.join(
        F.broadcast(pool.join(F.broadcast(q), "query_id")), "neighbor_id"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("_qv"), F.col("_cv")), 6).alias(
            "cosine"
        ),
    )
    return _topk(scored, k, "cosine")


def ivf_cell_stats_pinned(
    embeddings: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-health view of the pinned IVF coarse quantizer: per-cell
    population and balance factor — ``(cell, n_vectors, balance)`` where
    balance = n_vectors · n_cells / N (1.0 = perfectly even; a hot cell
    >> 1 means probes over-scan and, at 100 TB, a skewed Parquet
    partition).

    This is the monitoring query run after (re)building an IVF index;
    assignment arithmetic is identical to ``ivf_topk_pinned`` so the SQL
    oracle replays it bit-for-bit. One partial-agg shuffle keyed by
    cell id; output is n_cells rows."""
    C = md5_sample(embeddings, n_cells, id_col, vec_col)
    cc = _fold_self(C)

    def _d2(v: pd.Series) -> np.ndarray:
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        return cc[None, :] - 2.0 * _fold_dots(X, C)

    @pandas_udf("int")
    def _assign_cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(_d2(v).argmin(axis=1).astype("int32"))

    total = embeddings.count()  # scalar agg (oracle's count(*))
    return (
        embeddings.select(_assign_cell(F.col(vec_col)).alias("cell"))
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
