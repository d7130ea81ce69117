"""Product-quantization ANN (Jégou, Douze, Schmid 2011 — "Product
Quantization for Nearest Neighbor Search").

The vector is split into ``m`` subspaces; each subspace gets its own
``ksub``-codeword codebook; a corpus vector is stored as ``m`` small
codes. A query scores any corpus vector against its reconstruction from
those codes instead of against the raw vector.

Why this is the 100 TB memory path: 64-dim float32 vectors are 256
bytes; m=16 one-byte codes are 16 — a 16× smaller corpus scan. Encode
and score are Arrow ``pandas_udf`` batch ops (numpy); the corpus is
never shuffled — queries broadcast.

The codebooks are the family's one quantizer (``similarity`` module
docstring): codebook j is the j-th subvector slice of the ``ksub``
md5-sample rows, encode is the fold-exact ``nearest_cells`` per
subspace, and the score is a full-dimension left-fold against the
reconstruction — mathematically the ADC table sum, and bit-equal to
``list_dot_product(q, flatten(codewords))``. So codes, scores and the
ranking replay bit for bit in SQL (``sim_topk_pq``,
``sim_topk_pq_rerank``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kenshin_spark.functions.vectors import _fold_rows, md5_sample, nearest_cells
from kenshin_spark.similarity import _topk, _verified_topk


def _pq_scored(
    embeddings: DataFrame,
    queries: DataFrame,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """All (query, corpus) PQ ADC scores — ``(query_id, neighbor_id,
    score)`` with score = fold-dot(query, PQ-reconstruction), 6 dp."""
    S = md5_sample(embeddings, ksub, id_col, vec_col)  # (ksub, dim)
    dim = S.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    C = [S[:, j * dsub : (j + 1) * dsub].copy() for j in range(m)]

    @pandas_udf("array<int>")
    def _encode(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        codes = np.stack(
            [nearest_cells(X[:, j * dsub : (j + 1) * dsub], C[j])
             for j in range(m)],
            axis=1,
        )
        return pd.Series(list(codes))

    # the query side is tiny by contract: collect it, close over it
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
        return pd.Series(_fold_rows(Qv, R))

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


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k by inner product: ``(query_id, neighbor_id, rank,
    score)`` where score = dot(query, PQ-reconstructed corpus vector),
    rounded to 6 dp. Ties broken by neighbor id."""
    return _topk(
        _pq_scored(embeddings, queries, m, ksub, id_col, vec_col), k, "score"
    )


def pq_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates: int = 50,
    m: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval (the standard ANN serving stack): PQ ADC
    recalls a ``candidates``-sized pool per query from the compressed
    codes (the only corpus-wide read), then the EXACT cosine re-ranks
    just that pool against the raw vectors. Output schema matches
    ``brute_force_topk`` — ``(query_id, neighbor_id, rank, cosine)`` —
    so it's a drop-in, with the full-corpus exact scan replaced by
    |candidates| exact dots per query. Recall approaches exact as
    ``candidates`` grows."""
    pool = pq_topk(
        embeddings, queries, candidates, m, ksub, id_col, vec_col
    ).select("query_id", "neighbor_id")
    rows = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).join(F.broadcast(pool), "neighbor_id")
    return _verified_topk(rows, queries, k, id_col, vec_col)
