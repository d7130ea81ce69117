"""The exact-cosine kernels against the JVM fold they replaced, and the
quantizer and the classifier built on the same fold.

``functions.vectors`` scores cosines with the numpy left-fold
(``_fold_dots``/``_fold_rows``): ``cosine_pairs`` every pair of two
sides, ``score_pairs`` given pairs. ``dot_product``/``l2_norm``/
``cosine_similarity`` below are the same fold as JVM higher-order
functions, kept here only as the reference: the arithmetic the DuckDB
oracles replay. These tests pin that the kernels agree with it bit for
bit, at the threshold boundary too, and the edge cases: zero and NULL
vectors, and vectors of different lengths. The quantizer tests pin
``md5_sample``'s order, ``nearest_cells``' tie rule and probe order, and
that IVF and SemDeDup sub-cells only ever prune exact results; the
classifier test pins ``nearest_centroid`` to the oracle's argmax."""

import hashlib

import duckdb
import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kenshin_spark.dedup.embedding import (
    cross_neardup_pairs,
    embedding_neardup_pairs,
    embedding_neardup_pairs_lsh,
    hyperplane_band_index,
)
from kenshin_spark.functions import vectors
from kenshin_spark.dedup.semantic import semantic_neardup_pairs
from kenshin_spark.functions.vectors import (
    _fold_dots,
    _fold_self,
    _rounded,
    cells_udf,
    centroids,
    cosine_pairs,
    fold_norm,
    md5_sample,
    nearest_cells,
    score_pairs,
)
from kenshin_spark.queries._common import _NN_CTES
from kenshin_spark.similarity import brute_force_topk, ivf_topk, lsh_topk
from kenshin_spark.similarity.classify import nearest_centroid

T = 0.4
DIM = 64


def _c(col):
    return F.col(col) if isinstance(col, str) else col


def dot_product(a, b):
    """The reference fold as JVM higher-order functions (interpreted)."""
    prods = F.zip_with(
        _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a):
    return F.sqrt(
        F.aggregate(
            _c(a), F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a, b):
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot_product(a, b) / denom)


def corpus(n=300, seed=7, labels=False):
    """Clustered vectors, so pairs land on both sides of ``T``; with
    ``labels`` also each vector's cluster."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((12, DIM))
    y = rng.integers(0, 12, n)
    X = centers[y] + 1.3 * rng.standard_normal((n, DIM))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    return (X, y) if labels else X


def boundary_pairs(n=40, seed=11):
    """Vectors in pairs ``(u, w)`` whose cosine is ``T + d``, ``d``
    spread over ±1e-6 — the prefilter's and the 6-dp rounding's edge."""
    rng = np.random.default_rng(seed)
    out = []
    for d in np.linspace(-1e-6, 1e-6, n):
        u, v = np.linalg.qr(rng.standard_normal((DIM, 2)))[0].T
        c = T + d
        out += [u, c * u + np.sqrt(1 - c * c) * v]
    return np.array(out)


def frame(spark, X, elem="double"):
    return spark.createDataFrame(
        [(i, None if v is None else [float(x) for x in v])
         for i, v in enumerate(X)],
        f"vec_id long, embedding array<{elem}>",
    )


def jvm_neardup(df, threshold=T):
    """The JVM expression the kernel replaced, as a plain cross join."""
    a = df.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("_va"))
    b = a.toDF("vec_b", "_vb")
    cos = F.round(cosine_similarity("_va", "_vb"), 6)
    return {
        (r[0], r[1]): r[2]
        for r in a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("c"))
        .where(F.col("c") >= threshold)
        .collect()
    }


def jvm_topk(emb, queries, k):
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return sorted(
        tuple(r)
        for r in c.crossJoin(q)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(cosine_similarity("_qv", "_cv"), 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
        .collect()
    )


def pairs(df):
    return {(r[0], r[1]): r[2] for r in df.collect()}


@pytest.mark.parametrize("elem", ["float", "double"])
def test_fold_equals_jvm_bit_for_bit_on_all_pairs(spark, elem):
    df = frame(spark, corpus(), elem)
    a = df.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    jvm = a.crossJoin(b).select(
        "a", "b",
        dot_product("va", "vb").alias("dot"),
        l2_norm("va").alias("na"),
        cosine_similarity("va", "vb").alias("cos"),
    ).toPandas()
    X = np.array(
        [r.embedding for r in df.orderBy("vec_id").collect()], dtype=np.float64
    )
    ia, ib = jvm["a"].to_numpy(), jvm["b"].to_numpy()
    assert np.array_equal(jvm["dot"].to_numpy(), _fold_dots(X, X)[ia, ib])
    assert np.array_equal(jvm["na"].to_numpy(), np.sqrt(_fold_self(X))[ia])
    # the kernels themselves, unrounded, on every ordered pair
    got = pairs(cosine_pairs(df, df, ("a", "b")))
    assert len(got) == len(jvm) == 300 * 300
    want = dict(zip(zip(ia.tolist(), ib.tolist()), jvm["cos"].tolist()))
    assert got == want
    # given pairs: both sides looked up, or side a's vector streamed
    given = a.crossJoin(b.select("b"))
    assert pairs(score_pairs(given.drop("va"), df, ("a", "b"),
                             id_col="vec_id")) == want
    assert pairs(score_pairs(given.select("a", "b", "va"), df, ("a", "b"),
                             vec="va")) == want
    norms = df.select("vec_id", fold_norm("embedding").alias("n")).toPandas()
    assert np.array_equal(
        norms.sort_values("vec_id")["n"].to_numpy(), np.sqrt(_fold_self(X))
    )


@pytest.mark.parametrize("elem", ["float", "double"])
def test_threshold_boundary_matches_jvm(spark, elem):
    X = np.vstack([boundary_pairs(), corpus(60)])
    df = frame(spark, X, elem)
    raw = cosine_pairs(df, df, ("a", "b"), keep="lt").where(
        F.abs(F.col("cosine") - T) <= 1e-6
    )
    assert raw.count() >= 20  # the fixture does sit on the boundary
    want = jvm_neardup(df)
    got = pairs(embedding_neardup_pairs(df, threshold=T))
    assert got == want
    assert any(c == T for c in got.values())
    ids = df.select(F.col("vec_id").alias("a"))
    lt = ids.crossJoin(ids.toDF("b")).where("a < b")
    given = _rounded(score_pairs(lt, df, ("a", "b"), T), ["a", "b"], T)
    assert pairs(given) == want
    lsh = pairs(embedding_neardup_pairs_lsh(df, threshold=T))
    assert lsh.items() <= want.items()


def test_tiling_and_triangle_skip_do_not_change_the_result(spark, monkeypatch):
    df = frame(spark, corpus())

    def run():
        topk = brute_force_topk(df, df.where("vec_id < 7"), k=5).collect()
        return pairs(embedding_neardup_pairs(df, threshold=T)), sorted(topk)

    default = run()
    monkeypatch.setattr(vectors, "TILE", 97)
    monkeypatch.setattr(vectors, "SELF_ROWS", 5)
    assert run() == default


def degenerate(spark):
    """Corpus with a zero vector (id 3), a NULL embedding (id 5), a
    vector holding a NULL (id 6) and a duplicate of id 0 (id 4)."""
    X = corpus(8).tolist()
    X[3] = [0.0] * DIM
    X[5] = None
    X[4] = list(X[0])
    X[6] = [None] + X[6][1:]
    return spark.createDataFrame(
        list(enumerate(X)), "vec_id long, embedding array<double>"
    )


def test_zero_and_null_vectors_make_no_pair(spark):
    df = degenerate(spark)
    got = pairs(embedding_neardup_pairs(df, threshold=T))
    assert (0, 4) in got
    assert not {i for p in got for i in p} & {3, 5, 6}
    assert got == jvm_neardup(df)
    cross = pairs(cross_neardup_pairs(df, df, threshold=T))
    assert not {i for p in cross for i in p} & {3, 5, 6}


def test_zero_and_null_vectors_rank_last_in_topk(spark):
    df = degenerate(spark)
    queries = df.where("vec_id in (0, 3, 5)")
    got = sorted(map(tuple, brute_force_topk(df, queries, k=10).collect()))
    assert got == jvm_topk(df, queries, 10)
    by_q = {}
    for q, n, rank, cos in got:
        by_q.setdefault(q, []).append((rank, n, cos))
    # query 0: the three NULL cosines come last, by neighbor id
    assert [(n, c) for _, n, c in sorted(by_q[0])][-3:] == [
        (3, None), (5, None), (6, None)
    ]
    # a zero or NULL query scores nothing: every neighbor NULL, id order
    for q in (3, 5):
        assert [(n, c) for _, n, c in sorted(by_q[q])] == [
            (n, None) for n in range(8) if n != q
        ]


def test_null_vectors_make_no_lsh_band_rows(spark):
    """A vector that is not whole gets no band signature, so the LSH
    paths give it no candidate, as the exact kernels give it no pair."""
    df = degenerate(spark)
    index = hyperplane_band_index(df)
    assert {r[0] for r in index.select("vec_id").distinct().collect()} == (
        set(range(8)) - {5, 6}
    )
    lsh = pairs(embedding_neardup_pairs_lsh(df, threshold=T))
    assert (0, 4) in lsh
    assert lsh.items() <= pairs(embedding_neardup_pairs(df, threshold=T)).items()
    top = lsh_topk(df, df.where("vec_id in (0, 5)"), k=3).collect()
    assert {r["query_id"] for r in top} == {0}


def test_vectors_of_different_lengths_raise(spark):
    X = corpus(6).tolist()
    X[2] = X[2][:-1]
    df = spark.createDataFrame(
        list(enumerate(X)), "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="differ in length"):
        embedding_neardup_pairs(df, threshold=T)
    # a streamed vector of another length fails the task
    ok = df.where("vec_id <> 2")
    with pytest.raises(Exception, match="differ in length"):
        cross_neardup_pairs(df, ok, threshold=T).collect()
    with pytest.raises(Exception, match="differ in length"):
        brute_force_topk(df, ok.where("vec_id < 2"), k=3).collect()


def md5_order(ids):
    """Positions of ``ids`` in ``ORDER BY md5(cast(id as string)), id``."""
    key = [(hashlib.md5(str(i).encode()).hexdigest(), i) for i in ids]
    return sorted(range(len(ids)), key=key.__getitem__)


def test_md5_sample_order_and_ties(spark):
    X = corpus(40)
    ids = list(range(40)) + [7]  # id 7 twice: its md5 ties, then its id
    X = np.vstack([X, X[7]])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, X)],
        "vec_id long, embedding array<float>",
    )
    order = md5_order(ids)
    want = X.astype(np.float32).astype(np.float64)[order]
    for n in (1, 8, 41):
        assert np.array_equal(md5_sample(df, n), want[:n])
    # layout-independent
    assert np.array_equal(md5_sample(df.repartition(3), 41), want)
    dup = [p for p, i in enumerate(order) if ids[i] == 7]
    assert dup[1] == dup[0] + 1  # the tied rows sit together


def test_nearest_cells_is_the_fold_argmin_ties_to_smallest_cell(spark):
    X = corpus(200)
    C = X[[3, 50, 3, 120, 50]]  # cells 0/2 and 1/4 are identical
    d2 = _fold_self(C)[None, :] - 2.0 * _fold_dots(X, C)
    want = [sorted(range(len(C)), key=lambda c: (d2[i, c], c))
            for i in range(len(X))]
    assert nearest_cells(X, C).tolist() == [w[0] for w in want]
    assert nearest_cells(X, C, 3).tolist() == [w[:3] for w in want]
    assert nearest_cells(X, C, len(C)).tolist() == want
    got = nearest_cells(X, C)
    assert not {2, 4} & set(got.tolist())  # a tie never picks the copy
    assert {0, 1} <= set(got.tolist())
    # the Arrow UDF runs the same helper on the executors
    df = frame(spark, X)
    rows = df.select(
        "vec_id",
        cells_udf(C)("embedding").alias("cell"),
        cells_udf(C, 3)("embedding").alias("probe"),
    ).orderBy("vec_id").collect()
    assert [r.cell for r in rows] == [w[0] for w in want]
    assert [r.probe for r in rows] == [w[:3] for w in want]


def test_ivf_full_probe_equals_brute_force(spark):
    df = frame(spark, corpus())
    queries = df.where("vec_id < 7")
    exact = sorted(map(tuple, brute_force_topk(df, queries, k=10).collect()))
    full = ivf_topk(df, queries, k=10, n_cells=8, n_probe=8).collect()
    assert sorted(map(tuple, full)) == exact
    pruned = ivf_topk(df, queries, k=10, n_cells=8, n_probe=2).collect()
    assert len(pruned) == 70
    assert {(r[0], r[1]) for r in pruned} != {(r[0], r[1]) for r in exact}


def test_semantic_subcells_are_a_subset_of_label_cells(spark):
    X, y = corpus(300, labels=True)
    df = spark.createDataFrame(
        [(i, int(c), [float(x) for x in v]) for i, (c, v) in enumerate(zip(y, X))],
        "vec_id long, label int, embedding array<double>",
    )

    def pairs_of(**kw):
        out = semantic_neardup_pairs(df, threshold=T, **kw).collect()
        return {(r.vec_a, r.vec_b): (r.cluster, r.cosine) for r in out}

    label = pairs_of()
    sub = pairs_of(subcells=4)
    assert 0 < len(sub) < len(label)
    C = md5_sample(df, 4)
    cell = nearest_cells(X, C)
    for (a, b), (cluster, cos) in sub.items():
        assert label[(a, b)][1] == cos
        assert cell[a] == cell[b]
        assert cluster == f"{label[(a, b)][0]}#{cell[a]}"


def test_nearest_centroid_ties_to_smallest_label_and_nulls(spark):
    """The argmax takes the first maximum over the label-sorted
    centroids: a tie goes to the smallest label, and a zero or NULL
    vector (every cosine NULL) gets the smallest label and a NULL
    cosine — the oracle's ``ORDER BY cos DESC, pred_label``."""
    X, y = corpus(90, labels=True)
    rows = [(i, int(c % 3) + 5, [float(x) for x in v])
            for i, (c, v) in enumerate(zip(y, X))]
    # label 4 holds copies of label 6's vectors: equal centroids, so
    # every label-4 and label-6 vector ties between them
    rows += [(100 + i, 4, v) for i, c, v in rows if c == 6]
    rows += [(200, 7, [0.0] * DIM), (201, 7, None)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    cents = {r.label: r.centroid for r in centroids(df).collect()}
    assert cents[4] == cents[6]
    got = {r.vec_id: (r.pred_label, r.cosine, r.correct)
           for r in nearest_centroid(df).collect()}
    assert got[200] == got[201] == (4, None, False)
    preds = [p for p, _, _ in got.values()]
    assert 4 in preds and 6 not in preds
    # every row as DuckDB replays it
    con = duckdb.connect()
    con.register("embeddings", pa.table(
        {"vec_id": [r[0] for r in rows], "label": [r[1] for r in rows],
         "embedding": [r[2] for r in rows]},
        pa.schema([("vec_id", pa.int64()), ("label", pa.int32()),
                   ("embedding", pa.list_(pa.float64()))]),
    ))
    want = {
        v: (p, c) for v, p, c in con.execute(
            f"WITH {_NN_CTES.strip()} "
            "SELECT vec_id, pred_label, round(cos, 6) FROM best WHERE rn = 1"
        ).fetchall()
    }
    assert {v: (p, c) for v, (p, c, _) in got.items()} == want
