"""Nearest-centroid classification over an embedding column.

The supervised twin of IVF cell assignment: class centroids are exact
per-label means (deterministic, so the whole query oracles in SQL),
where the IVF quantizer's cells are sampled corpus rows; every vector
is assigned to the centroid with the highest cosine.

Two-phase scoring, applying the round-1 lesson that per-row
``aggregate(zip_with(...))`` higher-order expressions are interpreted
(CodegenFallback) and dominate the bench when evaluated per candidate:

1. argmax over all centroids: ONE Arrow ``pandas_udf`` doing a numpy
   ``X @ C.T`` per batch — BLAS throughput, |labels|× fewer interpreted
   expressions. BLAS reorders the summation, which is why the argmax
   phase emits only the LABEL (tie-safe integer), never a float that
   would need to hash-match the oracle.
2. the reported cosine: a single sequential ``zip_with``/``aggregate``
   dot product against the chosen centroid only — left-fold order,
   bit-matching DuckDB's ``list_dot_product``.

Centroids are rounded before use (both engines), so phase-2 inputs are
bit-identical cross-engine. The centroid table (|labels| × dim) is a
bounded driver collect + broadcast join, exactly like the IVF probe set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kenshin_spark.functions.vectors import (
    centroids,
    cosine_similarity,
)


def nearest_centroid(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """``(vec_id, label, pred_label, cosine, correct)`` — each vector
    assigned to its nearest class centroid by cosine."""
    cents = centroids(
        embeddings.select(group_col, vec_col), group_col, vec_col, ndigits
    ).select(F.col(group_col).alias("pred_label"), "centroid")
    rows = sorted(cents.collect(), key=lambda r: r["pred_label"])
    labels = np.array([r["pred_label"] for r in rows])
    C = np.array([r["centroid"] for r in rows], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    @pandas_udf("int")
    def _pred(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
        # argmax takes the FIRST maximum over label-sorted rows — ties
        # resolve to the smallest label, same as the oracle's arg_max
        # tie-break discipline
        return pd.Series(labels[(Xn @ Cn.T).argmax(axis=1)].astype("int32"))

    scored = embeddings.select(
        F.col(id_col),
        F.col(group_col),
        F.col(vec_col).alias("_v"),
        _pred(F.col(vec_col)).alias("pred_label"),
    )
    return (
        scored.join(F.broadcast(cents), "pred_label")
        .select(
            id_col,
            group_col,
            "pred_label",
            F.round(cosine_similarity("_v", "centroid"), ndigits).alias("cosine"),
            (F.col(group_col) == F.col("pred_label")).alias("correct"),
        )
    )
