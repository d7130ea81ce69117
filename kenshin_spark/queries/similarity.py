"""Vector rows on ``embeddings`` (``sim_``, ``emb_``): brute-force,
LSH, IVF, PQ and quantized top-k, range search, k-NN graphs, recall
audits, and per-dimension and per-label embedding profiles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kenshin_spark.io import load_table
from kenshin_spark.queries._common import (
    _NN_CTES,
    _duck_band_sigs,
    _sql_query,
    register,
)
from kenshin_spark.queries._common import QUERIES as _REG
from kenshin_spark.similarity import brute_force_topk, lsh_topk


@register(
    "emb_centroids",
    """
    SELECT label, t.dim, round(avg(embedding[t.dim + 1]), 6) AS centroid,
           count(*) AS n_vecs
    FROM embeddings, range(64) t(dim)
    GROUP BY 1, 2
    """,
    "per-label mean embedding (flat (label, dim) rows): posexplode + "
    "map-side-combined avg — the exchange carries |labels| x dim rows per "
    "task regardless of corpus size",
)
def q_emb_centroids(spark, sf_dir):
    from kenshin_spark.functions.vectors import centroid_rows

    return centroid_rows(load_table(spark, sf_dir, "embeddings"))


@register(
    "emb_nearest_centroid",
    f"""
    WITH {_NN_CTES.strip()}
    SELECT vec_id, label, pred_label, round(cos, 6) AS cosine,
           label = pred_label AS correct
    FROM best WHERE rn = 1
    """,
    "nearest-centroid classification: exact per-label mean centroids "
    "(rounded, so both engines score identical inputs), then one numpy "
    "left-fold pass scoring every vector against every centroid; the "
    "argmax over those cosines (ties to the smallest label) and the "
    "reported cosine come from the same fold",
)
def q_emb_nearest_centroid(spark, sf_dir):
    from kenshin_spark.similarity.classify import nearest_centroid

    return nearest_centroid(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_topk_quantized",
    """
    WITH q0 AS (
      SELECT vec_id,
             embedding::DOUBLE[] AS e,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS s
      FROM embeddings
    ),
    qv AS (
      SELECT vec_id,
             list_transform(e, x ->
               floor(x * 127 / (CASE WHEN s = 0 THEN 1 ELSE s END) + 0.5)
             ) AS qe
      FROM q0
    ),
    q AS (SELECT * FROM qv WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_dot_product(q.qe, c.qe) AS BIGINT) AS dot
      FROM qv c, q WHERE q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, dot FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY dot DESC, neighbor_id
      ) AS rnk FROM scored
    ) t WHERE rnk <= 10
    """,
    "int8-quantized top-k (FAISS SQ-style max-abs scalar quantization): "
    "integer dot products are exact under any summation order, so the "
    "Arrow matmul fast path hash-matches the SQL oracle with no float "
    "rounding discipline — 4x smaller vectors at 100 TB",
)
def q_sim_topk_quantized(spark, sf_dir):
    from kenshin_spark.similarity.quantize import quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_topk(emb, emb.where(F.col("vec_id") < 5), k=10)


@register(
    "sim_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               6) AS cosine
      FROM embeddings c, q
      WHERE q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rnk FROM scored
    ) t WHERE rnk <= 10
    """,
    "similarity search baseline: exact cosine top-10 for 5 query vectors "
    "(numpy left-fold cosine kernel in mapInArrow, bit-equal to the JVM "
    "fold; broadcast queries, window top-k)",
)
def q_sim_topk_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=10)


@register(
    "sim_range_search",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5)
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(
             list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
              sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
             6) AS cosine
    FROM embeddings c, q
    WHERE q.vec_id <> c.vec_id
      AND round(
            list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
            (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
             sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
            6) >= 0.25
    """,
    "range query (radius companion to top-k): every neighbor with "
    "cosine ≥ 0.25 of each query vector — scan-and-filter with NO "
    "per-query sort or window; corpus stays partitioned, queries "
    "broadcast; the banded LSH/IVF variants bound the scan identically",
)
def q_sim_range_search(spark, sf_dir):
    from kenshin_spark.similarity import range_search

    emb = load_table(spark, sf_dir, "embeddings")
    return range_search(emb, emb.where(F.col("vec_id") < 5), threshold=0.25)


def _lsh_topk_oracle(bands: int, r: int) -> str:
    # candidate iff some band signature is within Hamming-1 of the
    # query's (multi-probe): xor of the band sigs in {0} ∪ {1<<i}
    flips = ",".join(str(1 << i) for i in range(r))
    collide = " OR ".join(
        f"(c.s[{j + 1}] = q.s[{j + 1}] OR "
        f"xor(c.s[{j + 1}], q.s[{j + 1}]) IN ({flips}))"
        for j in range(bands)
    )
    return f"""
    WITH sigs AS (
      SELECT vec_id, embedding, {_duck_band_sigs('embedding', bands, r)} AS s
      FROM embeddings
    ),
    q AS (SELECT * FROM sigs WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               6) AS cosine
      FROM sigs c, q
      WHERE q.vec_id <> c.vec_id AND ({collide})
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rnk FROM scored
    ) t WHERE rnk <= 10
    """


@register(
    "sim_topk_lsh",
    _lsh_topk_oracle(16, 4),
    "ANN scale path: banded hyperplane LSH (16 bands x 4 planes, "
    "OR-amplified) + Hamming-1 multi-probe on the query side; exact "
    "cosine verify over candidates only. Oracle recomputes the identical "
    "md5-derived planes and sign tests in SQL",
)
def q_sim_topk_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return lsh_topk(emb, queries, k=10)


def _pinned_sample_cte(n: int) -> str:
    """The n corpus vectors with smallest md5(cast(vec_id as string)) —
    DuckDB twin of ``functions.vectors.md5_sample``, the one quantizer's
    cells: ``(c, cv)``."""
    return f"""
      SELECT c, cv FROM (
        SELECT row_number() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
               embedding::DOUBLE[] AS cv
        FROM embeddings
      ) WHERE c < {n}
    """


def _ivf_pinned_oracle(n_cells: int, n_probe: int, k: int) -> str:
    """Replays ``similarity.ivf_topk`` bit-for-bit: same md5-sample
    centroids, same ``cc - 2·(x·c)`` fold-exact distance
    (``functions.vectors.nearest_cells``), same ``(d2, cell)`` tie-break
    for assignment and probe selection."""
    return f"""
    WITH cent AS (
      SELECT c, cv, list_dot_product(cv, cv) AS cc
      FROM ({_pinned_sample_cte(n_cells)})
    ),
    asg AS (
      SELECT vec_id, ev, cell FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, cent.c AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY cent.cc
                   - 2 * list_dot_product(e.embedding::DOUBLE[], cent.cv),
                   cent.c
               ) AS rn
        FROM embeddings e, cent
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT query_id, qv, cell FROM (
        SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qv,
               cent.c AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY cent.cc
                   - 2 * list_dot_product(e.embedding::DOUBLE[], cent.cv),
                   cent.c
               ) AS rn
        FROM embeddings e, cent WHERE e.vec_id < 5
      ) WHERE rn <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round(
               list_dot_product(p.qv, a.ev) /
               (sqrt(list_dot_product(p.qv, p.qv)) *
                sqrt(list_dot_product(a.ev, a.ev))),
               6) AS cosine
      FROM asg a JOIN probe p ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rnk FROM scored
    ) t WHERE rnk <= {k}
    """


def _pq_pinned_ctes(m: int, ksub: int, dim: int = 64) -> str:
    """Shared CTE chain replaying ``similarity.pq._pq_scored``: codebook j
    = j-th subvector slice of the ksub md5-sample rows; codes by fold-exact
    subspace argmin (ties → smallest code); score = list_dot_product of the
    query against the flattened reconstruction (the exact fold the Spark
    side mirrors). Ends with ``scored(query_id, neighbor_id, qv, score)``."""
    dsub = dim // m
    sl = f"js.j * {dsub} + 1, js.j * {dsub} + {dsub}"
    return f"""
    samp AS ({_pinned_sample_cte(ksub)}),
    js AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
    cb AS (
      SELECT js.j, samp.c,
             list_slice(samp.cv, {sl}) AS cw,
             list_dot_product(list_slice(samp.cv, {sl}),
                              list_slice(samp.cv, {sl})) AS cc
      FROM samp, js
    ),
    subv AS (
      SELECT e.vec_id, js.j,
             list_slice(e.embedding::DOUBLE[], {sl}) AS sv
      FROM embeddings e, js
    ),
    codes AS (
      SELECT vec_id, j, cw FROM (
        SELECT s.vec_id, s.j, cb.cw,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.j
                 ORDER BY cb.cc - 2 * list_dot_product(s.sv, cb.cw), cb.c
               ) AS rn
        FROM subv s JOIN cb ON s.j = cb.j
      ) WHERE rn = 1
    ),
    recon AS (
      SELECT vec_id, flatten(list(cw ORDER BY j)) AS rv
      FROM codes GROUP BY vec_id
    ),
    q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, r.vec_id AS neighbor_id, q.qv,
             round(list_dot_product(q.qv, r.rv), 6) AS score
      FROM recon r, q WHERE q.query_id <> r.vec_id
    )
    """


def _pq_pinned_oracle(m: int, ksub: int, k: int) -> str:
    return f"""
    WITH {_pq_pinned_ctes(m, ksub)}
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, score FROM (
      SELECT query_id, neighbor_id, score, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
      ) AS rnk FROM scored
    ) t WHERE rnk <= {k}
    """


def _pq_rerank_pinned_oracle(m: int, ksub: int, candidates: int, k: int) -> str:
    return f"""
    WITH {_pq_pinned_ctes(m, ksub)},
    pool AS (
      SELECT query_id, neighbor_id, qv FROM (
        SELECT query_id, neighbor_id, qv, row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, neighbor_id
        ) AS rnk FROM scored
      ) t WHERE rnk <= {candidates}
    ),
    rer AS (
      SELECT p.query_id, p.neighbor_id,
             round(
               list_dot_product(p.qv, e.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(p.qv, p.qv)) *
                sqrt(list_dot_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]))),
               6) AS cosine
      FROM pool p JOIN embeddings e ON p.neighbor_id = e.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rnk FROM rer
    ) t WHERE rnk <= {k}
    """


@register(
    "sim_topk_pq",
    _pq_pinned_oracle(16, 16, 10),
    "product-quantization ANN (Jégou 2011): m=16 subspace codebooks, "
    "asymmetric-distance scoring over 1-byte codes — the 16×-smaller-scan "
    "memory path. Codebooks are the family's one quantizer (md5-sample "
    "corpus rows, sliced per subspace; distances as sequential "
    "left-folds), so the oracle replays encode + ADC bit-for-bit in SQL; "
    "pytest asserts recall against brute force",
)
def q_sim_topk_pq(spark, sf_dir):
    from kenshin_spark.similarity.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return pq_topk(emb, queries, k=10)


@register(
    "sim_topk_pq_rerank",
    _pq_rerank_pinned_oracle(16, 16, 50, 10),
    "two-stage ANN serving stack: PQ ADC over compressed codes recalls a "
    "50-candidate pool per query (the only corpus-wide read), exact "
    "cosine re-ranks the pool against raw vectors. Pinned codebooks make "
    "both stages SQL-replayable — the oracle reproduces pool AND re-rank",
)
def q_sim_topk_pq_rerank(spark, sf_dir):
    from kenshin_spark.similarity.pq import pq_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return pq_rerank_topk(emb, queries, k=10, candidates=50)


@register(
    "sim_topk_ivf",
    _ivf_pinned_oracle(8, 3, 10),
    "IVF ANN: coarse-quantizer cells, n_probe=3 cells scanned per query; "
    "at scale cells are Parquet partitions (partition-pruned probes). "
    "Centroids are the family's one quantizer (md5-sample rows, "
    "fold-exact distances, (d2, cell) tie-breaks) so assignment AND probe "
    "selection replay in SQL; pytest asserts recall against brute force",
)
def q_sim_topk_ivf(spark, sf_dir):
    from kenshin_spark.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, k=10, n_cells=8, n_probe=3)


@register(
    "sim_topk_ivf_fullprobe",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               6) AS cosine
      FROM embeddings c, q
      WHERE q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rank, cosine FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rnk FROM scored
    ) t WHERE rnk <= 10
    """,
    "IVF with n_probe = n_cells: every cell is scanned, so the result "
    "must EQUAL brute force — the oracle is the exact top-k SQL. Proves "
    "the IVF machinery (quantizer, assignment, probe join) loses nothing "
    "except by cell pruning",
)
def q_sim_topk_ivf_fullprobe(spark, sf_dir):
    from kenshin_spark.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_topk(emb, queries, k=10, n_cells=8, n_probe=8)


@register(
    "emb_ivf_cell_stats",
    f"""
    WITH cent AS (
      SELECT c, cv, list_dot_product(cv, cv) AS cc
      FROM ({_pinned_sample_cte(8)})
    ),
    asg AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, cent.c AS cell,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY cent.cc
                   - 2 * list_dot_product(e.embedding::DOUBLE[], cent.cv),
                   cent.c
               ) AS rn
        FROM embeddings e, cent
      ) WHERE rn = 1
    ),
    tot AS (SELECT count(*) AS n FROM embeddings)
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(count(*) * 8.0 / tot.n, 6) AS balance
    FROM asg, tot GROUP BY cell, tot.n
    """,
    "IVF index health: per-cell population and balance factor of the "
    "pinned coarse quantizer (balance = n·cells/N; a hot cell means "
    "probe over-scan and a skewed Parquet partition at 100 TB) — the "
    "monitoring query after every index (re)build; assignment replayed "
    "bit-exactly by the oracle",
)
def q_emb_ivf_cell_stats(spark, sf_dir):
    from kenshin_spark.similarity import ivf_cell_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_cell_stats(emb, n_cells=8)


@register(
    "emb_norm_profile",
    """
    WITH norms AS (
      SELECT label,
             round(sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])), 6) AS nrm
      FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           min(nrm) AS min_norm,
           max(nrm) AS max_norm,
           round(CAST(sum(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS mean_norm
    FROM norms GROUP BY label
    """,
    "embedding data-quality profile: per-label vector-norm range and "
    "mean (unnormalized or zero vectors break cosine retrieval — this "
    "is the check before building any index). Norms are row-local "
    "sequential folds rounded to 6dp, then summed through DECIMAL so "
    "the mean is order-exact; one partial-agg shuffle keyed by label",
)
def q_emb_norm_profile(spark, sf_dir):
    from kenshin_spark.functions.vectors import fold_norm

    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.round(fold_norm("embedding"), 6)
    return (
        emb.select("label", nrm.alias("_nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("_nrm").alias("min_norm"),
            F.max("_nrm").alias("max_norm"),
            F.round(
                F.sum(F.col("_nrm").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_norm"),
        )
    )


@register(
    "emb_sparsity",
    """
    SELECT vec_id,
           CAST(len(list_filter(embedding::DOUBLE[],
                                x -> abs(x) < 0.05)) AS BIGINT)
             AS n_small,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(len(list_filter(embedding::DOUBLE[],
                                 x -> abs(x) < 0.05)) * 1.0
                 / len(embedding), 6) AS small_frac
    FROM embeddings
    """,
    "embedding sparsity profile via the filter higher-order function "
    "(JVM lambda, zero shuffles): per-vector count and fraction of "
    "near-zero components — dead dimensions waste index memory and "
    "distort cosine; exact double comparison, one division",
)
def q_emb_sparsity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    n_small = F.size(
        F.filter("embedding", lambda x: F.abs(x) < 0.05)
    ).cast("long")
    return emb.select(
        "vec_id",
        n_small.alias("n_small"),
        F.size("embedding").cast("long").alias("dim"),
        F.round(n_small * 1.0 / F.size("embedding"), 6).alias("small_frac"),
    )


DIM_PROFILE_SQL = """
SELECT t.dim,
       round(min(embedding[t.dim + 1]), 6) AS dim_min,
       round(max(embedding[t.dim + 1]), 6) AS dim_max,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM embeddings, range(64) t(dim)
GROUP BY t.dim
"""

DIM_PROFILE_SPARK_SQL = """
SELECT dim,
       round(min(v), 6) AS dim_min,
       round(max(v), 6) AS dim_max,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM (
  SELECT posexplode(embedding) AS (dim, v) FROM embeddings
)
GROUP BY dim
"""


@register(
    "emb_dim_profile",
    DIM_PROFILE_SQL,
    "per-dimension embedding range profile (a collapsed or exploding "
    "dimension breaks quantizers before it breaks retrieval): "
    "posexplode + map-side-combined min/max — the exchange carries 64 "
    "rows per task regardless of corpus size",
)
def q_emb_dim_profile(spark, sf_dir):
    return _sql_query(DIM_PROFILE_SPARK_SQL, ("embeddings",))(spark, sf_dir)


KNN_GRAPH_SQL = """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
scored AS (
  SELECT q.vec_id AS src, c.vec_id AS dst,
         round(
           list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
           (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
           6) AS cosine
  FROM embeddings c, q WHERE q.vec_id <> c.vec_id
)
SELECT src, dst, CAST(rnk AS BIGINT) AS rank, cosine FROM (
  SELECT *, row_number() OVER (
    PARTITION BY src ORDER BY cosine DESC, dst
  ) AS rnk FROM scored
) t WHERE rnk <= 3
"""


@register(
    "sim_knn_graph",
    KNN_GRAPH_SQL,
    "k-NN graph construction (the HNSW/NN-descent building block): "
    "top-3 neighbors for each of the first 50 vectors — same "
    "broadcast-queries/partitioned-corpus shape as sim_topk_bruteforce; "
    "at scale the seed set is the graph frontier, not a prefix",
)
def q_sim_knn_graph(spark, sf_dir):
    from kenshin_spark.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 50")
    out = brute_force_topk(emb, q, k=3)
    return out.selectExpr(
        "query_id AS src", "neighbor_id AS dst", "rank", "cosine"
    )


#: both engines ROUND the centroid to 6dp before the distance arithmetic:
#: a float mean is summation-order-dependent at the last ulp, and rounding
#: first makes every downstream op run on identical operands.
CENTROID_OUT_SQL = """
WITH c AS (
  SELECT label, t.dim, round(avg(embedding[t.dim + 1]), 6) AS cv
  FROM embeddings, range(64) t(dim) GROUP BY 1, 2
),
dots AS (
  SELECT e.vec_id, e.label,
         sum(e.embedding[c.dim + 1] * c.cv) AS dot,
         sum(e.embedding[c.dim + 1] * e.embedding[c.dim + 1]) AS n2v,
         sum(c.cv * c.cv) AS n2c
  FROM embeddings e JOIN c ON c.label = e.label
  GROUP BY e.vec_id, e.label
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
       round(dot / (sqrt(n2v) * sqrt(n2c)), 6) AS centroid_cosine
FROM dots
WHERE round(dot / (sqrt(n2v) * sqrt(n2c)), 6) < 0.2
"""

CENTROID_OUT_SPARK_SQL = """
WITH c AS (
  SELECT label, dim, round(avg(v), 6) AS cv
  FROM (SELECT label, posexplode(embedding) AS (dim, v) FROM embeddings)
  GROUP BY 1, 2
),
e AS (SELECT vec_id, label, posexplode(embedding) AS (dim, v)
      FROM embeddings),
dots AS (
  SELECT e.vec_id, e.label,
         sum(e.v * c.cv) AS dot,
         sum(e.v * e.v) AS n2v,
         sum(c.cv * c.cv) AS n2c
  FROM e JOIN c ON c.label = e.label AND c.dim = e.dim
  GROUP BY e.vec_id, e.label
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
       round(dot / (sqrt(n2v) * sqrt(n2c)), 6) AS centroid_cosine
FROM dots
WHERE round(dot / (sqrt(n2v) * sqrt(n2c)), 6) < 0.2
"""


@register(
    "emb_centroid_outliers",
    CENTROID_OUT_SQL,
    "label-coherence outliers: vectors whose cosine to their OWN label "
    "centroid falls under 0.2 (mislabeled / noise candidates — the "
    "embedding-space analog of the quality filter). Centroids are "
    "rounded to 6dp BEFORE the distance so float mean ulp-noise cannot "
    "flip the threshold; label-sized centroid table broadcasts",
)
def q_emb_centroid_outliers(spark, sf_dir):
    return _sql_query(CENTROID_OUT_SPARK_SQL, ("embeddings",))(spark, sf_dir)


SQ_ERR_SQL = """
WITH q AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         (CASE WHEN list_max(list_transform(embedding::DOUBLE[],
                 x -> abs(x))) = 0 THEN 1.0
               ELSE list_max(list_transform(embedding::DOUBLE[],
                 x -> abs(x))) END) AS s
  FROM embeddings
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
       round(list_sum(list_transform(
         list_zip(v, list_transform(v,
           x -> floor(x * 127.0 / s + 0.5) * s / 127.0)),
         p -> (p[1] - p[2]) * (p[1] - p[2])
       )), 12) AS sq_err2
FROM q
"""

SQ_ERR_SPARK_SQL = """
WITH q AS (
  SELECT vec_id, label, embedding AS v,
         (CASE WHEN array_max(transform(embedding, x -> abs(x))) = 0D
               THEN 1.0D
               ELSE array_max(transform(embedding, x -> abs(x))) END) AS s
  FROM embeddings
)
SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label,
       round(aggregate(
         zip_with(v,
           transform(v, x -> floor(x * 127.0D / s + 0.5D) * s / 127.0D),
           (a, b) -> (a - b) * (a - b)),
         0.0D, (acc, e) -> acc + e
       ), 12) AS sq_err2
FROM q
"""


@register(
    "emb_sq_error_profile",
    SQ_ERR_SQL,
    "int8 scalar-quantization reconstruction error per vector "
    "(quantize -> dequantize -> sum of squared deltas): the index-"
    "quality profile behind sim_topk_quantized. Entirely row-local "
    "sequential folds of identical IEEE op chains (the cosine-query "
    "contract), no cross-row float aggregation at all",
)
def q_emb_sq_error_profile(spark, sf_dir):
    return _sql_query(SQ_ERR_SPARK_SQL, ("embeddings",))(spark, sf_dir)


@register(
    "emb_label_confusion",
    f"""
    WITH {_NN_CTES.strip()}
    SELECT CAST(label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM best WHERE rn = 1
    GROUP BY label, pred_label
    """,
    "nearest-centroid confusion matrix: true x predicted label counts "
    "over the emb_nearest_centroid assignment (same rounded-centroid "
    "CTEs, so assignment is identical) — the label-quality dashboard "
    "view; output is |labels|^2-bounded",
)
def q_emb_label_confusion(spark, sf_dir):
    from kenshin_spark.similarity.classify import nearest_centroid

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        nearest_centroid(emb)
        .groupBy(
            F.col("label").cast("long").alias("true_label"),
            F.col("pred_label").cast("long").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


CENT_PAIR_SQL = """
WITH c AS (
  SELECT label, t.dim, round(avg(embedding[t.dim + 1]), 6) AS cv
  FROM embeddings, range(64) t(dim) GROUP BY 1, 2
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.cv * b.cv) AS dot,
         sum(a.cv * a.cv) AS n2a,
         sum(b.cv * b.cv) AS n2b
  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT CAST(label_a AS BIGINT) AS label_a,
       CAST(label_b AS BIGINT) AS label_b,
       round(dot / (sqrt(n2a) * sqrt(n2b)), 6) AS centroid_cosine
FROM dots
"""

CENT_PAIR_SPARK_SQL = """
WITH c AS (
  SELECT label, dim, round(avg(v), 6) AS cv
  FROM (SELECT label, posexplode(embedding) AS (dim, v) FROM embeddings)
  GROUP BY 1, 2
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.cv * b.cv) AS dot,
         sum(a.cv * a.cv) AS n2a,
         sum(b.cv * b.cv) AS n2b
  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT CAST(label_a AS BIGINT) AS label_a,
       CAST(label_b AS BIGINT) AS label_b,
       round(dot / (sqrt(n2a) * sqrt(n2b)), 6) AS centroid_cosine
FROM dots
"""


@register(
    "emb_centroid_pair_distance",
    CENT_PAIR_SQL,
    "label-separability matrix: cosine between every pair of class "
    "centroids (centroids rounded to 6dp first — round-then-derive, so "
    "the 64-term dot products run on identical operands); |labels|^2/2 "
    "output rows",
)
def q_emb_centroid_pair_distance(spark, sf_dir):
    return _sql_query(CENT_PAIR_SPARK_SQL, ("embeddings",))(spark, sf_dir)


EMB_SIGN_SQL = """
WITH b AS (
  SELECT vec_id, label,
         list_aggregate(list_transform(embedding[1:8],
           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
           'string_agg', '') AS bucket
  FROM embeddings
)
SELECT bucket,
       CAST(min(vec_id) AS BIGINT) AS rep_vec_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT label) AS BIGINT) AS n_labels
FROM b GROUP BY bucket
"""


@register(
    "emb_sign_sketch_buckets",
    EMB_SIGN_SQL,
    "axis-aligned sign-sketch bucket audit: each vector keyed by the "
    "sign pattern of its first 8 dims (256 buckets — the degenerate "
    "1-bit-per-axis LSH), reporting occupancy and label spread per "
    "bucket; sign of a raw parquet float is bit-exact in both engines, "
    "and skewed occupancy here predicts hot LSH buckets at scale",
)
def q_emb_sign_sketch_buckets(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    bucket = F.expr(
        "concat_ws('', transform(slice(embedding, 1, 8), "
        "x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END))"
    )
    return (
        emb.select(bucket.alias("bucket"), "vec_id", "label")
        .groupBy("bucket")
        .agg(
            F.min("vec_id").cast("bigint").alias("rep_vec_id"),
            F.count("*").cast("bigint").alias("n_vectors"),
            F.countDistinct("label").cast("bigint").alias("n_labels"),
        )
    )


EMB_NORM_LABEL_SQL = """
WITH n AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding,
                                      x -> CAST(x AS DOUBLE) *
                                           CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_vectors,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       round(sum(nrm) / count(*), 6) AS mean_norm
FROM n GROUP BY label
"""


@register(
    "emb_norm_by_label",
    EMB_NORM_LABEL_SQL,
    "L2-norm profile per class label: per-row norms fold the float "
    "array in index order on both engines (aggregate/list_sum), "
    "extremes and mean rounded 6dp — detects per-class normalization "
    "drift before cosine similarity assumes unit vectors",
)
def q_emb_norm_by_label(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.expr(
        "sqrt(aggregate(embedding, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    return (
        emb.select(F.col("label").cast("bigint").alias("label"), sq.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
            F.round(F.sum("nrm") / F.count("*"), 6).alias("mean_norm"),
        )
    )


DIM_VARIANCE_SQL = """
WITH d AS (
  SELECT unnest(embedding) AS v,
         unnest(range(1, len(embedding) + 1)) AS dim
  FROM embeddings
),
s AS (
  SELECT dim,
         sum(CAST(v AS DOUBLE)) AS s1,
         sum(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS s2,
         CAST(count(*) AS DOUBLE) AS n
  FROM d GROUP BY dim
),
rk AS (
  SELECT CAST(dim - 1 AS BIGINT) AS dim,
         round((s2 - s1 * s1 / n) / n, 6) AS variance,
         row_number() OVER (
           ORDER BY (s2 - s1 * s1 / n) / n DESC, dim
         ) AS rn
  FROM s
)
SELECT dim, variance, CAST(rn AS BIGINT) AS rank
FROM rk WHERE rn <= 5
"""


@register(
    "emb_dim_variance_topk",
    DIM_VARIANCE_SQL,
    "highest-variance embedding dimensions (top-5): per-dim population "
    "variance via the two-sum formula over zipped unnest/posexplode — "
    "the dims PCA would keep, and the first check before per-dim "
    "quantizer budgets; sampling spread between iid dims (~percent "
    "scale) dwarfs the ~1e-13 association noise, so the rank is stable",
)
def q_emb_dim_variance_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(F.posexplode("embedding").alias("dim0", "v"))
    s = d.groupBy("dim0").agg(
        F.sum(F.col("v").cast("double")).alias("s1"),
        F.sum(F.col("v").cast("double") * F.col("v").cast("double"))
        .alias("s2"),
        F.count("*").cast("double").alias("n"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / F.col("n")
    from pyspark.sql import Window

    rk = Window.orderBy(var.desc(), F.col("dim0"))
    return (
        s.select(
            F.col("dim0").cast("bigint").alias("dim"),
            F.round(var, 6).alias("variance"),
            F.row_number().over(rk).cast("bigint").alias("rank"),
        )
        .where(F.col("rank") <= 5)
    )


EMB_DIST_HIST_SQL = """
WITH a AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 37 = 0
),
b AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 41 = 0
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(
           list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) *
                  CAST(b.embedding[i] AS DOUBLE)))
           / sqrt(list_sum(list_transform(a.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           / sqrt(list_sum(list_transform(b.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS cos
  FROM a JOIN b ON a.vec_id < b.vec_id
)
SELECT CAST(floor(cos * 10) AS BIGINT) AS cos_band,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1
"""


@register(
    "emb_distance_histogram",
    EMB_DIST_HIST_SQL,
    "pairwise-similarity distribution audit: cosine over a "
    "deterministic double-modulus sample (|corpus|/37 x |corpus|/41 "
    "pairs — bounded, never all-pairs), 6dp-rounded BEFORE the "
    "10-bucket banding so no band edge rides on fp noise — the "
    "separation histogram that predicts LSH threshold quality",
)
def q_emb_distance_histogram(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.where("vec_id % 37 = 0").select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    b = emb.where("vec_id % 41 = 0").select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")
    )
    dot = F.expr(
        "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * "
        "CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    na = F.expr(
        "sqrt(aggregate(ea, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    nb = F.expr(
        "sqrt(aggregate(eb, CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(F.round(dot / na / nb, 6).alias("cos"))
    )
    return (
        pairs.select(
            F.floor(F.col("cos") * 10).cast("bigint").alias("cos_band")
        )
        .groupBy("cos_band")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


@register(
    "emb_bottomk_per_label",
    """
    SELECT label, vec_id FROM (
      SELECT label, vec_id,
             row_number() OVER (
               PARTITION BY label
               ORDER BY CAST(('0x' || substr(md5('ksp|' ||
                       CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT),
                        vec_id
             ) AS rn
      FROM embeddings
    ) WHERE rn <= 4
    """,
    "fixed-size stratified sampling: the 4 vectors per label whose "
    "seeded 60-bit hashes are lowest (the per-stratum bottom-k — "
    "nested and mergeable like the global bottom_k_sample, so per-day "
    "strata roll up without rescanning raw data); ordering is (hash, "
    "key) so even a collision stays deterministic on both engines",
)
def q_emb_bottomk_per_label(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.functions.sampling import hash60

    emb = load_table(spark, sf_dir, "embeddings")
    w = (
        Window.partitionBy("label")
        .orderBy(hash60("vec_id"), F.col("vec_id"))
    )
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 4)
        .select("label", "vec_id")
    )


_BF_TOPK_SQL = """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(
               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
               6) AS cosine
      FROM embeddings c, q
      WHERE q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rnk FROM scored
    ) t WHERE rnk <= 10
"""


@register(
    "sim_lsh_recall_audit",
    f"""
    SELECT ex.query_id,
           CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(ap.neighbor_id) * 10 AS BIGINT) AS recall_pct
    FROM ({_BF_TOPK_SQL}) ex
    LEFT JOIN (SELECT query_id, neighbor_id FROM ({_lsh_topk_oracle(16, 4)}) z) ap
      ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
    GROUP BY 1
    """,
    "the ANN quality audit a 100TB similarity service runs before "
    "switching from brute force to the LSH path: recall@10 of the "
    "banded hyperplane LSH (16x4, Hamming-1 multi-probe) against the "
    "exact cosine top-10, per query — both sides are the registry's "
    "own engine paths and both replay bit-for-bit, so the recall "
    "number itself is hash-checked",
)
def q_sim_lsh_recall_audit(spark, sf_dir):
    from kenshin_spark.similarity import brute_force_topk, lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    ex = brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ap = lsh_topk(emb, queries, k=10).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    joined = ex.join(
        ap,
        (F.col("aq") == F.col("query_id"))
        & (F.col("an") == F.col("neighbor_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("an").alias("n_hits"),
        (F.count("an") * 10).alias("recall_pct"),
    )


@register(
    "emb_sign_agreement_matrix",
    """
    WITH votes AS (
      SELECT label, t.dim,
             sum(CASE WHEN embedding[t.dim + 1] > 0 THEN 1 ELSE 0 END)
               AS pos,
             count(*) AS n
      FROM embeddings, range(64) t(dim)
      GROUP BY 1, 2
    ),
    proto AS (
      SELECT label, dim,
             CASE WHEN pos * 2 > n THEN 1 ELSE 0 END AS bit
      FROM votes
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                AS BIGINT) AS hamming
    FROM proto a JOIN proto b ON b.dim = a.dim AND a.label < b.label
    GROUP BY 1, 2
    """,
    "label sign-prototype agreement matrix: per (label, dim) the "
    "majority SIGN of the embedding coordinate (integer votes — no "
    "float mean, so no cross-engine accumulation drift) folds each "
    "label into a 64-bit prototype, and label pairs compare by "
    "prototype hamming distance — the cheap separability screen before "
    "spending on centroid math; integers end to end",
)
def q_emb_sign_agreement_matrix(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    votes = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.sum((F.col("v") > 0).cast("long")).alias("pos"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    proto = votes.select(
        "label", "dim",
        F.when(F.col("pos") * 2 > F.col("n"), 1).otherwise(0).alias("bit"),
    )
    a, b = proto.alias("a"), proto.alias("b")
    return (
        a.join(
            b,
            (F.col("b.dim") == F.col("a.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum((F.col("a.bit") != F.col("b.bit")).cast("long"))
            .alias("hamming")
        )
    )


@register(
    "sim_ivf_recall_audit",
    f"""
    SELECT ex.query_id,
           CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(ap.neighbor_id) * 10 AS BIGINT) AS recall_pct
    FROM (SELECT query_id, neighbor_id FROM
            ({_REG["sim_topk_ivf_fullprobe"].oracle}) f) ex
    LEFT JOIN (SELECT query_id, neighbor_id FROM
            ({_REG["sim_topk_ivf"].oracle}) p) ap
      ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
    GROUP BY 1
    """,
    "IVF probe-budget audit: recall@10 of the n_probe=3 IVF against "
    "its own full-probe (exhaustive-cell) variant per query — the "
    "number that justifies the partition-pruned probe at 100 TB; both "
    "sides are the registry's pinned-quantizer paths, so the recall "
    "itself replays bit-for-bit",
)
def q_sim_ivf_recall_audit(spark, sf_dir):
    ex = (
        _REG["sim_topk_ivf_fullprobe"].fn(spark, sf_dir)
        .select("query_id", "neighbor_id")
    )
    ap = (
        _REG["sim_topk_ivf"].fn(spark, sf_dir)
        .select(
            F.col("query_id").alias("aq"),
            F.col("neighbor_id").alias("an"),
        )
    )
    joined = ex.join(
        ap,
        (F.col("aq") == F.col("query_id"))
        & (F.col("an") == F.col("neighbor_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("an").alias("n_hits"),
        (F.count("an") * 10).alias("recall_pct"),
    )


@register(
    "emb_knn_label_purity",
    f"""
    WITH nn AS (
      SELECT query_id, neighbor_id FROM
        ({_REG["sim_topk_bruteforce"].oracle}) t
    )
    SELECT nn.query_id, q.label AS query_label,
           CAST(sum(CASE WHEN c.label = q.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_label,
           count(*) AS k
    FROM nn
    JOIN embeddings q ON q.vec_id = nn.query_id
    JOIN embeddings c ON c.vec_id = nn.neighbor_id
    GROUP BY 1, 2
    """,
    "kNN label purity — the embedding-quality number a labeling "
    "pipeline gates on: for each brute-force query, how many of its "
    "exact cosine top-10 share the query's label; derived from the "
    "registry's own replayable top-k so the purity count itself "
    "hash-matches",
)
def q_emb_knn_label_purity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    nn = _REG["sim_topk_bruteforce"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("query_label")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("_nl")
    )
    return (
        nn.join(F.broadcast(q), "query_id")
        .join(F.broadcast(c), "neighbor_id")
        .groupBy("query_id", "query_label")
        .agg(
            F.sum((F.col("_nl") == F.col("query_label")).cast("long"))
            .alias("n_same_label"),
            F.count(F.lit(1)).alias("k"),
        )
    )


@register(
    "sim_quantized_recall_audit",
    f"""
    SELECT ex.query_id,
           CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(ap.neighbor_id) * 10 AS BIGINT) AS recall_pct
    FROM (SELECT query_id, neighbor_id FROM
            ({_REG["sim_topk_bruteforce"].oracle}) f) ex
    LEFT JOIN (SELECT query_id, neighbor_id FROM
            ({_REG["sim_topk_quantized"].oracle}) p) ap
      ON ap.query_id = ex.query_id AND ap.neighbor_id = ex.neighbor_id
    GROUP BY 1
    """,
    "int8-quantization recall audit: recall@10 of the quantized "
    "dot-product path against the exact cosine top-10 per query — "
    "completes the per-method audit family (LSH r9, IVF r10, "
    "quantized here) so every ANN variant ships with its measured "
    "recall; derived from the registry's own replayable paths",
)
def q_sim_quantized_recall_audit(spark, sf_dir):
    ex = _REG["sim_topk_bruteforce"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ap = _REG["sim_topk_quantized"].fn(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    joined = ex.join(
        ap,
        (F.col("aq") == F.col("query_id"))
        & (F.col("an") == F.col("neighbor_id")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("an").alias("n_hits"),
        (F.count("an") * 10).alias("recall_pct"),
    )


@register(
    "emb_dim_sign_profile",
    """
    SELECT t.dim,
           sum(CASE WHEN embedding[t.dim + 1] > 0 THEN 1 ELSE 0 END)
             AS n_pos,
           sum(CASE WHEN embedding[t.dim + 1] < 0 THEN 1 ELSE 0 END)
             AS n_neg,
           sum(CASE WHEN embedding[t.dim + 1] = 0 THEN 1 ELSE 0 END)
             AS n_zero
    FROM embeddings, range(64) t(dim)
    GROUP BY 1
    """,
    "per-dimension sign balance across the corpus: positive/negative/"
    "zero counts per coordinate — the zero-centering check run before "
    "trusting sign-based sketches (simhash for vectors); pure integer "
    "comparisons, posexplode + one map-side-combined aggregate",
)
def q_emb_dim_sign_profile(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(F.posexplode("embedding").alias("dim", "v"))
    return e.groupBy("dim").agg(
        F.sum((F.col("v") > 0).cast("long")).alias("n_pos"),
        F.sum((F.col("v") < 0).cast("long")).alias("n_neg"),
        F.sum((F.col("v") == 0).cast("long")).alias("n_zero"),
    )


@register(
    "emb_label_size_balance",
    """
    WITH c AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1),
    mm AS (SELECT min(n_vecs) AS mn, max(n_vecs) AS mx FROM c)
    SELECT c.label, c.n_vecs,
           c.n_vecs * 1000000 // mm.mx AS share_of_max_ppm
    FROM c, mm
    """,
    "label balance audit: per-label vector counts and each label's "
    "size relative to the largest (floor-scaled ppm) — the class-"
    "imbalance number that decides whether per-label IVF cells need "
    "rebalancing; integers only",
)
def q_emb_label_size_balance(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    mm = c.agg(F.max("n_vecs").alias("mx"))
    return c.crossJoin(F.broadcast(mm)).select(
        "label", "n_vecs",
        F.expr("n_vecs * 1000000 DIV mx").alias("share_of_max_ppm"),
    )
