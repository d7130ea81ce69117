"""Nearest-centroid classification over an embedding column.

The supervised twin of IVF cell assignment: class centroids are exact
per-label means (deterministic, so the whole query oracles in SQL),
where the IVF quantizer's cells are sampled corpus rows; every vector
is assigned to the centroid with the highest cosine.

One pass on the fold (``functions.vectors``): the |labels| × dim
centroids, rounded before use in both engines, ship in the closure, and
``mapInArrow`` folds each batch against all of them at once. The
cosines it ranks are the ones it reports, each bit-equal to DuckDB's
``list_dot_product`` cosine, so the argmax, its tie rule (the smallest
label, the oracle's ``ORDER BY cos DESC, pred_label``) and the reported
cosine all replay in SQL. There is no join: the centroid table is one
bounded driver read.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from kenshin_spark.functions.vectors import (
    _fold_dots,
    _fold_self,
    _matrix,
    centroids,
)


def nearest_centroid(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ndigits: int = 6,
) -> DataFrame:
    """``(vec_id, label, pred_label, cosine, correct)`` — each vector
    assigned to its nearest class centroid by cosine, ties to the
    smallest label. A zero or NULL vector, whose every cosine is NULL,
    gets the smallest label and a NULL cosine, as in the oracle."""
    cents = centroids(
        embeddings.select(group_col, vec_col), group_col, vec_col, ndigits
    ).select(group_col, "centroid").toArrow()
    cents = cents.take(pc.sort_indices(cents.column(0)))
    labels = cents.column(0).combine_chunks()
    C, okc = _matrix(cents.column(1))
    nc = np.sqrt(_fold_self(C))

    def score(batches):
        for batch in batches:
            X, ok = _matrix(batch.column(2), C.shape[1])
            denom = np.sqrt(_fold_self(X))[:, None] * nc[None, :]
            good = ok[:, None] & okc[None, :] & (denom != 0)
            cos = np.full(denom.shape, -np.inf)
            np.divide(_fold_dots(X, C), denom, out=cos, where=good)
            # the first maximum: label-sorted, so ties go to the smallest
            best = cos.argmax(axis=1)
            rows = np.arange(len(best))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    labels.take(best),
                    pa.array(cos[rows, best], mask=~good[rows, best]),
                ],
                names=[id_col, group_col, "pred_label", "_cos"],
            )

    schema = StructType([
        embeddings.schema[id_col],
        embeddings.schema[group_col],
        StructField("pred_label", embeddings.schema[group_col].dataType),
        StructField("_cos", DoubleType()),
    ])
    return (
        embeddings.select(id_col, group_col, vec_col)
        .mapInArrow(score, schema)
        .select(
            id_col,
            group_col,
            "pred_label",
            F.round("_cos", ndigits).alias("cosine"),
            (F.col(group_col) == F.col("pred_label")).alias("correct"),
        )
    )
