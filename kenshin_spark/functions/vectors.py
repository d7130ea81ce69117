"""Vector math over ``array<float|double>`` columns: the package's one
dot-product arithmetic.

Every dot product is the sequential left-fold
``((0 + x0*y0) + x1*y1) + ...`` in float64, in dimension order — the
summation DuckDB's ``list_dot_product`` uses too, so a 6-dp rounded
cosine is bit-aligned with the SQL oracles. numpy runs it as one
elementwise multiply and one add per dimension over a whole tile
(``_fold_dots`` for a rows × cols tile, ``_fold_rows`` row by row). Each
step rounds like the fold: no BLAS reordering, no FMA fusion. Three
entry points carry it into Spark:

- ``cosine_pairs``: every pair of a streamed × a broadcast side, in
  ``mapInArrow`` — the exact all-pairs and cross near-dup, brute-force
  top-k and range search;
- ``score_pairs``: given pairs against a broadcast side, in
  ``mapInArrow`` — the LSH, SemDeDup and index verifies and the LSH,
  IVF and PQ re-rank top-k;
- ``fold_norm``: a vector column's norm, as an Arrow UDF.

``similarity.classify`` takes its argmax over ``_fold_dots`` against the
label centroids. The one vector quantizer of the similarity family
lives here too, on the same fold: ``md5_sample`` picks the cells (IVF
centroids, PQ codewords, SemDeDup sub-cells) and
``nearest_cells``/``cells_udf`` assign vectors to them. Sample,
assignment and probe order are all expressions DuckDB evaluates
identically, so every quantized result replays bit for bit in SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

#: dot products one kernel tile computes at most: bounds the fold's two
#: (rows × cols) float64 buffers to 16 MB each, whatever the Arrow batch
TILE = 1 << 21
#: row-tile cap for the self-join: a narrower id range per tile skips
#: more of the lower triangle
SELF_ROWS = 64


def _fold_dots(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, dim) × (k, dim) → (n, k) dot products, each value produced by
    the sequential left-fold ``acc = (acc + x_j * c_j)`` in dim order —
    bit-identical to DuckDB ``list_dot_product`` (no BLAS reordering, no
    FMA fusion; numpy elementwise ops round every step like the fold)."""
    out = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    step = np.empty_like(out)
    for j in range(X.shape[1]):
        np.multiply(X[:, j : j + 1], C[None, :, j], out=step)
        out += step
    return out


def _fold_rows(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """(n, dim) · (n, dim) → (n,) row-wise dots via the same left-fold."""
    out = np.zeros(X.shape[0], dtype=np.float64)
    for j in range(X.shape[1]):
        out += X[:, j] * Y[:, j]
    return out


def _fold_self(C: np.ndarray) -> np.ndarray:
    """(k, dim) → (k,) self-dots via the same left-fold."""
    return _fold_rows(C, C)


def md5_sample(
    df: DataFrame, n: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> np.ndarray:
    """``(n, dim)``: the vectors of the ``n`` rows with the smallest
    ``md5(cast(id as string))``, ties by id — a deterministic,
    layout-independent sample that SQL replays with the same ``ORDER BY``.
    It is the quantizer's whole state: row ``c`` is cell (or codeword)
    ``c``. Collects n × dim doubles."""
    rows = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .orderBy(F.md5(F.col("_id").cast("string").cast("binary")), "_id")
        .limit(n)
        .collect()
    )
    return np.array([r._v for r in rows], dtype=np.float64)


def nearest_cells(
    X: np.ndarray, C: np.ndarray, n_probe: int | None = None
) -> np.ndarray:
    """Rows of ``C`` nearest to each row of ``X`` by squared L2, ranked on
    ``cc − 2·fold(x, c)`` (``||x||²`` is constant per row, so dropped).
    Without ``n_probe``: the ``(n,)`` nearest cell, ties to the smallest
    cell (argmin takes the first minimum — the oracle's ``ORDER BY d2,
    c``). With it: the ``(n, n_probe)`` nearest-first prefix of a stable
    argsort, same tie order."""
    d2 = _fold_self(C)[None, :] - 2.0 * _fold_dots(X, C)
    if n_probe is None:
        return d2.argmin(axis=1).astype(np.int32)
    return np.argsort(d2, axis=1, kind="stable")[:, :n_probe].astype(np.int32)


def cells_udf(C: np.ndarray, n_probe: int | None = None):
    """Arrow ``pandas_udf`` applying ``nearest_cells`` to a vector
    column, one batch at a time: the ``int`` cell, or with ``n_probe``
    the ``array<int>`` probe list."""

    @pandas_udf("int" if n_probe is None else "array<int>")
    def _cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32" if n_probe is None else object)
        X = np.array([np.asarray(x, dtype=np.float64) for x in v])
        out = nearest_cells(X, C, n_probe)
        return pd.Series(out if n_probe is None else list(out))

    return _cells


def _matrix(vecs, dim: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """``(X, ok)`` for an Arrow ``list<float|double>`` column: the vectors
    as float64 rows, and the mask of rows that are whole (not NULL, no
    NULL element). A row that is not whole scores NULL, as in the JVM
    fold. Raises ``ValueError`` when the non-NULL vectors differ in
    length, or from ``dim`` when given."""
    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    lens = pc.fill_null(pc.list_value_length(vecs), -1).to_numpy()
    present = lens >= 0
    dims = np.unique(lens[present])
    if dim is not None and dims.size:
        dims = np.union1d(dims, [dim])
    if dims.size > 1:
        raise ValueError(f"vectors differ in length: {dims.tolist()}")
    width = int(dims[0]) if dims.size else (dim or 0)
    flat = pc.list_flatten(vecs)
    ok = present.copy()
    if flat.null_count:
        parent = pc.list_parent_indices(vecs).to_numpy()
        ok[parent[flat.is_null().to_numpy(zero_copy_only=False)]] = False
    X = np.zeros((len(vecs), width), dtype=np.float64)
    X[present] = flat.to_numpy(zero_copy_only=False).reshape(
        int(present.sum()), width
    )
    X[~ok] = 0.0
    return X, ok


def _score_tile(a, X, na, oka, b, C, nb, okb, keep, low):
    """``(i, j, cosine, good)`` for one (rows × cols) tile; ``good`` is
    False where the cosine is NULL."""
    if keep == "lt":
        pair = a[:, None] < b[None, :]
    elif keep == "ne":
        pair = a[:, None] != b[None, :]
    else:
        pair = np.ones((len(a), len(b)), dtype=bool)
    denom = na[:, None] * nb[None, :]
    good = oka[:, None] & okb[None, :] & (denom != 0)
    dots = _fold_dots(X, C) if good.any() else np.zeros(denom.shape)
    if low is not None:
        # round(c, 6) >= t ⟺ c >= t - 5e-7; the rounded filter re-checks
        # the boundary in the JVM
        pair &= good & (dots >= low * denom)
    i, j = np.nonzero(pair)
    good = good[i, j]
    cos = np.zeros(len(i))
    cos[good] = dots[i, j][good] / denom[i, j][good]
    return i, j, cos, good


def _ship(small: DataFrame, id_col: str, vec_col: str):
    """``small`` read to the driver once (``toArrow``, the round-trip a
    broadcast join makes) and broadcast as ``(ids, C, norms, ok, dim)``:
    its ids sorted, its vectors with their fold norms and whole-row mask,
    and their length (None when no vector is non-NULL). Raises
    ``ValueError`` when the non-NULL vectors differ in length."""
    tab = small.select(id_col, vec_col).toArrow()
    tab = tab.take(pc.sort_indices(tab.column(0)))
    C, ok = _matrix(tab.column(1))
    dim = C.shape[1] if tab.column(1).null_count < len(tab) else None
    return small.sparkSession.sparkContext.broadcast(
        (tab.column(0).combine_chunks(), C, np.sqrt(_fold_self(C)), ok, dim)
    )


def cosine_pairs(
    streamed: DataFrame,
    small: DataFrame,
    names: tuple[str, str],
    keep: str = "all",
    threshold: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fan_out: bool = True,
) -> DataFrame:
    """``(names[0], names[1], "cosine")``: the exact cosine of
    ``streamed`` × ``small`` pairs on the numpy fold, unrounded and equal
    bit for bit to DuckDB's ``list_dot_product`` cosine — NULL where a
    norm is zero or a vector is NULL or holds a NULL.

    ``keep`` picks pairs by id: ``"lt"`` streamed id < small id (the
    self-join's upper triangle), ``"ne"`` no self pairs, ``"all"``. With
    a ``threshold`` only pairs whose cosine may round to ≥ it at 6 dp
    are emitted, never a NULL one; without one every pair is.

    ``small`` is broadcast with its fold norms (``_ship``). ``streamed``
    is scored tile by tile in ``mapInArrow``; a tile holds at most
    ``TILE`` dot products. With ``fan_out`` it is first repartitioned to
    the default parallelism, so a corpus read as one partition does not
    score in one task; without, it keeps its partitioning (for a caller
    whose next step shuffles anyway). For ``"lt"`` every tile skips the
    small side's columns at or below its smallest id.
    Raises ``ValueError`` when the small side's non-NULL vectors differ
    in length; a streamed vector of another length fails the task."""
    spark = streamed.sparkSession
    if keep != "all":  # a NULL id passes no id comparison
        streamed = streamed.where(F.col(id_col).isNotNull())
        small = small.where(F.col(id_col).isNotNull())
    shipped = _ship(small, id_col, vec_col)
    low = None if threshold is None else threshold - 5e-7
    cols = max(1, min(len(shipped.value[0]), TILE))
    rows = max(1, TILE // cols)
    if keep == "lt":
        rows = min(rows, SELF_ROWS)

    def score(batches):
        ids_b, C, nb, okb, dim = shipped.value
        b = ids_b.to_numpy(zero_copy_only=False)
        for batch in batches:
            ids_a = batch.column(0)
            a = ids_a.to_numpy(zero_copy_only=False)
            X, oka = _matrix(batch.column(1), dim)
            at = np.arange(len(a))
            if keep == "lt":
                at = np.argsort(a, kind="stable")
                a, X, oka = a[at], X[at], oka[at]
            na = np.sqrt(_fold_self(X))
            for r in range(0, len(a), rows):
                rs = slice(r, r + rows)
                start = (
                    int(np.searchsorted(b, a[r], side="right"))
                    if keep == "lt" else 0
                )
                for c in range(start, len(b), cols):
                    cs = slice(c, c + cols)
                    i, j, cos, good = _score_tile(
                        a[rs], X[rs], na[rs], oka[rs],
                        b[cs], C[cs], nb[cs], okb[cs], keep, low,
                    )
                    if len(i):
                        yield pa.RecordBatch.from_arrays(
                            [
                                ids_a.take(at[rs][i]),
                                ids_b.take(c + j),
                                pa.array(cos, pa.float64(), mask=~good),
                            ],
                            names=[*names, "cosine"],
                        )

    schema = StructType([
        StructField(names[0], streamed.schema[id_col].dataType),
        StructField(names[1], small.schema[id_col].dataType),
        StructField("cosine", DoubleType()),
    ])
    streamed = streamed.select(id_col, vec_col)
    if fan_out:
        streamed = streamed.repartition(spark.sparkContext.defaultParallelism)
    return streamed.mapInArrow(score, schema)


def _find(keys: np.ndarray, ids) -> tuple[np.ndarray, np.ndarray]:
    """``(at, hit)``: where each of the Arrow ``ids`` (no NULLs) sits in
    the sorted, non-empty ``keys``, and whether it is there."""
    v = ids.to_numpy(zero_copy_only=False)
    at = np.searchsorted(keys, v).clip(max=len(keys) - 1)
    return at, keys[at] == v


def score_pairs(
    pairs: DataFrame,
    small: DataFrame,
    names: tuple[str, str],
    threshold: float | None = None,
    vec: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``pairs`` plus a ``"cosine"`` column: the exact cosine of each
    row's pair on the numpy fold, unrounded and equal bit for bit to
    ``cosine_pairs``' — NULL where a norm is zero or a vector is NULL or
    holds a NULL.

    ``names[1]`` holds ids of ``small``, and so does ``names[0]`` unless
    ``vec`` names the column of ``pairs`` that carries that side's
    vector (a streamed large side; the column is dropped). Every other
    column passes through. A row whose id is not in ``small`` (or is
    NULL) is dropped, as in an inner join; ``small``'s ids are unique.
    With a ``threshold`` only rows whose cosine may round to ≥ it at 6 dp
    are kept, never a NULL one; without one every row is.

    ``small`` is broadcast with its fold norms (``_ship``); ``pairs`` is
    scored batch by batch in ``mapInArrow`` and keeps its partitioning.
    Raises ``ValueError`` when the small side's non-NULL vectors differ
    in length; a streamed vector of another length fails the task."""
    a, b = names
    pairs = pairs.where(F.col(a).isNotNull() & F.col(b).isNotNull())
    shipped = _ship(small.where(F.col(id_col).isNotNull()), id_col, vec_col)
    low = None if threshold is None else threshold - 5e-7
    out = [f for f in pairs.schema.fields if f.name != vec]

    def score(batches):
        ids, C, nc, okc, dim = shipped.value
        keys = ids.to_numpy(zero_copy_only=False)
        for batch in batches:
            if not len(keys):  # no row finds its pair
                continue
            jb, hit = _find(keys, batch.column(b))
            if vec is None:
                ja, hit_a = _find(keys, batch.column(a))
                hit &= hit_a
                X, oka, na = C[ja], okc[ja], nc[ja]
            else:
                X, oka = _matrix(batch.column(vec), dim)
                na = np.sqrt(_fold_self(X))
            denom = na * nc[jb]
            good = hit & oka & okc[jb] & (denom != 0)
            dots = _fold_rows(X, C[jb]) if good.any() else np.zeros(len(denom))
            kept = hit if low is None else good & (dots >= low * denom)
            if not kept.any():
                continue
            cos = np.zeros(len(dots))
            cos[good] = dots[good] / denom[good]
            mask = pa.array(kept)
            yield pa.RecordBatch.from_arrays(
                [batch.column(f.name).filter(mask) for f in out]
                + [pa.array(cos[kept], pa.float64(), mask=~good[kept])],
                names=[f.name for f in out] + ["cosine"],
            )

    return pairs.mapInArrow(
        score, StructType([*out, StructField("cosine", DoubleType())])
    )


def _rounded(pairs: DataFrame, cols: list[str], threshold: float) -> DataFrame:
    """``cols`` and the kernel's raw cosine rounded to 6 dp in the JVM,
    kept where ≥ ``threshold`` — the oracle's ``round(…, 6) >=
    threshold``."""
    return pairs.select(*cols, F.round("cosine", 6).alias("cosine")).where(
        F.col("cosine") >= threshold
    )


@arrow_udf(DoubleType())
def fold_norm(vecs: pa.Array) -> pa.Array:
    """A vector column's L2 norm: ``sqrt`` of its fold self-dot, as an
    Arrow UDF. NULL for a NULL vector or one holding a NULL."""
    X, ok = _matrix(vecs)
    return pa.array(np.sqrt(_fold_self(X)), pa.float64(), mask=~ok)


def centroid_rows(df, group_col="label", vec_col="embedding", ndigits=6):
    """Per-group mean vector in flat form: ``(group, dim, centroid,
    n_vecs)``.

    posexplode → groupBy(group, dim) avg. The explode multiplies rows by
    the dimension count, but partial (map-side) aggregation collapses each
    task's output to |groups| × dim rows before the shuffle, so the
    exchange is tiny regardless of corpus size — the classic scalable
    vector-mean plan, entirely JVM-side."""
    ex = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("dim", "v")
    )
    return ex.groupBy(group_col, F.col("dim").cast("long").alias("dim")).agg(
        F.round(F.avg(F.col("v").cast("double")), ndigits).alias("centroid"),
        F.count("*").alias("n_vecs"),
    )


def centroids(df, group_col="label", vec_col="embedding", ndigits=6):
    """Per-group mean vector re-assembled as ``array<double>`` (dim
    order): ``(group, centroid, n_vecs)`` — the API form; queries use the
    flat ``centroid_rows`` for cross-engine hashing."""
    rows = centroid_rows(df, group_col, vec_col, ndigits)
    packed = F.array_sort(F.collect_list(F.struct("dim", "centroid")))
    return rows.groupBy(group_col).agg(
        F.transform(packed, lambda s: s["centroid"]).alias("centroid"),
        F.max("n_vecs").alias("n_vecs"),
    )
