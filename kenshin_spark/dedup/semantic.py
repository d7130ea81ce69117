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

Plan shape (the part that scales): the pair join carries only narrow
``(id, cell)`` rows — the build side broadcasts, and the streamed side
is repartitioned so the join fans out across all cores (a join keyed
only on ~10 cell ids would otherwise collapse to ~10 tasks). The
within-cell pairs then stream through the one fold kernel
(``functions.vectors.score_pairs``) against a single broadcast of the
vectors and their norms, so no vector crosses the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kenshin_spark.functions.vectors import (
    _rounded,
    cells_udf,
    md5_sample,
    score_pairs,
)
from kenshin_spark.similarity.classify import nearest_centroid


def semantic_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    subcells: int | None = None,
) -> DataFrame:
    """``(cluster, vec_a, vec_b, cosine)`` for within-cell pairs with
    cosine ≥ threshold, rounded to 6 dp. The pair join is keyed by cell
    — at scale each cell maps to a partition, so the verify never
    crosses partitions.

    ``subcells=m`` splits every label cell into ≤m sub-cells before
    pairing — the 100 TB path where Σ|cell|² must shrink with k, not with
    |labels|. A vector's sub-cell is its nearest of the ``m`` md5-sample
    corpus rows, ``ivf_topk``'s quantizer and assignment, scoped within
    its label cell (``cluster`` becomes ``"<label>#<sub>"``).
    """
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    cells = nearest_centroid(embeddings, group_col, vec_col, id_col).select(
        F.col(id_col).alias("_id"), F.col("pred_label").alias("_cell")
    )
    if subcells is not None and subcells > 1:
        sub = cells_udf(md5_sample(embeddings, subcells, id_col, vec_col))
        cells = cells.join(
            embeddings.select(
                F.col(id_col).alias("_id"), sub(F.col(vec_col)).alias("_sub")
            ),
            "_id",
        ).select(
            "_id",
            F.concat_ws("#", F.col("_cell").cast("string"), "_sub").alias(
                "_cell"
            ),
        )
    a = cells.select(
        F.col("_id").alias("vec_a"), F.col("_cell").alias("cluster")
    ).repartition(par)
    b = cells.select(F.col("_id").alias("vec_b"), F.col("_cell").alias("_cellb"))
    pairs = a.join(
        F.broadcast(b),
        (F.col("cluster") == F.col("_cellb")) & (F.col("vec_a") < F.col("vec_b")),
    ).select("cluster", "vec_a", "vec_b")
    scored = score_pairs(
        pairs, embeddings, ("vec_a", "vec_b"), threshold,
        id_col=id_col, vec_col=vec_col,
    )
    return _rounded(scored, ["cluster", "vec_a", "vec_b"], threshold)
