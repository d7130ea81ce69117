"""SemDeDup-style semantic deduplication (Abbas et al. 2023).

Blocked embedding near-dup: assign every vector to its nearest centroid
cell, then compare pairs WITHIN a cell only — the quadratic verify is
bounded by Σ|cell|² instead of n², the same shape as MinHash banding but
in embedding space. Cells here are the deterministic per-label mean
centroids from ``similarity.classify`` (not an RNG k-means), so the whole
pipeline — assignment included — replays exactly in a SQL oracle. For
corpora without labels (or when |labels| is too small to bound the pair
space) pass ``subcells`` to split every cell with the IVF coarse
quantizer (md5-sample cells, fold-exact assignment — see
``similarity``) — k then scales with n (FAISS guidance: k ≈ √n)
independent of label cardinality. The sub-cells are as SQL-replayable
as the label cells: the sample and the ``ORDER BY d2, cell`` argmin are
the ones the ``emb_ivf_cell_stats`` oracle replays.

Trade-off (inherent to SemDeDup): a near-dup pair straddling two cells is
missed; recall is governed by cell granularity. Pairs found are always a
subset of the exhaustive ``embedding_neardup_pairs`` set at the same
threshold (asserted in tests), and the ``subcells`` refinement is a
further subset of the label-cell set.

Plan shape (the part that scales): norms are computed ONCE per vector
before the pair join, the streamed side is repartitioned so the
broadcast-hash join fans out across all cores (a join keyed only on
~10 cell ids would otherwise collapse to ~10 tasks), and the threshold
prefilter sits INSIDE the join condition so a non-survivor pair dies
after one dot product — the same three moves measured on
``dedup/embedding.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kenshin_spark.functions.vectors import (
    cells_udf,
    dot_product,
    l2_norm,
    md5_sample,
)
from kenshin_spark.similarity.classify import nearest_centroid


def semantic_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    ndigits: int = 6,
    subcells: int | None = None,
) -> DataFrame:
    """``(cluster, vec_a, vec_b, cosine)`` for within-cell pairs with
    cosine ≥ threshold. The pair join is keyed by cell — at scale each
    cell maps to a partition, so the verify never crosses partitions.

    ``subcells=m`` splits every label cell into ≤m sub-cells before
    pairing — the 100 TB path where Σ|cell|² must shrink with k, not with
    |labels|. A vector's sub-cell is its nearest of the ``m`` md5-sample
    corpus rows, ``ivf_topk``'s quantizer and assignment, scoped within
    its label cell (``_cell`` becomes ``"<label>#<sub>"``); the split
    adds no shuffle.
    """
    spark = embeddings.sparkSession
    par = spark.sparkContext.defaultParallelism
    assign = nearest_centroid(embeddings, group_col, vec_col, id_col).select(
        id_col, "pred_label"
    )
    e = embeddings.join(assign, id_col).select(
        F.col(id_col).alias("_id"),
        F.col("pred_label").alias("_cell"),
        F.col(vec_col).alias("_v"),
    )
    if subcells is not None and subcells > 1:
        sub = cells_udf(md5_sample(embeddings, subcells, id_col, vec_col))
        e = e.withColumn(
            "_cell",
            F.concat_ws("#", F.col("_cell").cast("string"), sub(F.col("_v"))),
        )
    e = e.withColumn("_n", l2_norm(F.col("_v")))
    a = e.select(
        F.col("_id").alias("vec_a"),
        F.col("_cell").alias("_cella"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    ).repartition(par)
    b = e.select(
        F.col("_id").alias("vec_b"),
        F.col("_cell").alias("_cellb"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    denom = F.col("_na") * F.col("_nb")
    cosine = F.when(denom != 0, dot_product(F.col("_va"), F.col("_vb")) / denom)
    # prefilter INSIDE the join condition: round(c, 6) >= t ⟺
    # c >= t - 5e-7; boundary cases re-checked by the exact rounded filter
    prefilter = dot_product(F.col("_va"), F.col("_vb")) >= (
        F.lit(threshold - 5 * 10.0 ** -(ndigits + 1)) * denom
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("_cella") == F.col("_cellb"))
            & (F.col("vec_a") < F.col("vec_b"))
            & prefilter,
        )
        .select(
            F.col("_cella").alias("cluster"),
            "vec_a",
            "vec_b",
            F.round(cosine, ndigits).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
