"""Int8-quantized similarity search (FAISS SQ-style scalar quantization).

Symmetric per-vector max-abs quantization: ``q_i = floor(x_i * 127 /
max|x| + 0.5)`` in [-127, 127]. The payoff at 100 TB: 4× smaller vectors
(int8 storage vs float32), SIMD-friendly integer kernels — and, for this
repo's correctness gate, a property float scoring can't give: INTEGER dot
products are exact under ANY summation order, so the numpy-matmul fast
path is bit-identical to the SQL oracle with no rounded-float discipline
at all. Ranking approximates cosine ranking: per-vector scaling preserves
direction (magnitude lives in the dropped scale factor, constant on a
unit-norm corpus).

The quantization itself stays float (x*127/s + 0.5, floor) with the same
IEEE-754 op order both engines evaluate elementwise, so the quantized
codes also match exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kenshin_spark.similarity import _topk


def _quantize_np(X: np.ndarray) -> np.ndarray:
    """(n, dim) float64 → int64 codes; the SQL twin is
    ``floor(x * 127 / (CASE WHEN s=0 THEN 1 ELSE s END) + 0.5)`` with
    ``s = list_max(list_transform(v, x -> abs(x)))``."""
    s = np.abs(X).max(axis=1, keepdims=True)
    s[s == 0.0] = 1.0
    return np.floor(X * 127.0 / s + 0.5).astype(np.int64)


def quantize_int8():
    """Arrow UDF: float vector → int8-range codes. Built inside a factory
    (NOT a module-level decorator: workers re-import this module when
    unpickling, and a module-scope ``pandas_udf`` call needs an active
    session that executors don't have)."""

    @pandas_udf("array<long>")
    def _quant(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        return pd.Series(list(_quantize_np(X)))

    return _quant


def quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by integer dot product over int8-quantized vectors:
    ``(query_id, neighbor_id, rank, dot)``.

    The query set is a bounded driver collect (probe-set pattern, as in
    IVF/classify); the corpus is scored with ONE Arrow batch matmul per
    partition — all-integer, so the score needs no rounding discipline.
    """
    qz = quantize_int8()
    qrows = sorted(
        queries.select(F.col(id_col), qz(F.col(vec_col)).alias("_qv")).collect(),
        key=lambda r: r[id_col],
    )
    Q = np.array([r["_qv"] for r in qrows], dtype=np.int64)  # (m, dim)
    qids = [int(r[id_col]) for r in qrows]

    @pandas_udf("array<long>")
    def _dots(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        X = np.array([np.asarray(x, dtype=np.int64) for x in v])
        return pd.Series(list(X @ Q.T))

    qid_arr = F.array(*[F.lit(q).cast("long") for q in qids])
    scored = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.posexplode(_dots(qz(F.col(vec_col)))).alias("_qi", "dot"),
        )
        .select(
            F.element_at(qid_arr, F.col("_qi") + 1).alias("query_id"),
            "neighbor_id",
            "dot",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return _topk(scored, k, "dot")
