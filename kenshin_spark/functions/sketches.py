"""Mergeable sketches in relational form: count-min frequency cells,
fixed-bin histograms and KMV (bottom-k) distinct-count states.

At 100 TB, "how often did key k occur per day/week/month" cannot re-scan
the events stream per rollup window. The sketch pattern: aggregate each
day ONCE into a fixed-size sketch, persist the sketches, and answer every
coarser rollup by merging them — associative and re-aggregable.

The count-min sketch (Cormode & Muthukrishnan 2005) answers that
frequency question over a key domain too large to materialize exactly.
Here a sketch is a plain DataFrame of at most ``depth × width`` cells
(``row, bucket, c``): constant-size per group regardless of key
cardinality, merged across groups by cell-wise SUM, and estimated as
min over a key's ``depth`` cells — overestimates only, by at most
``2n/width`` with probability ``1 - 2^-depth``. Because the cells are
ordinary rows built from a seeded-md5 hash (the same replayable
construction the MinHash oracles use), the whole sketch IS expressible
in ANSI SQL and gets a real DuckDB hash-match oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Count-min sketch (relational cells)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _cms_hash(key: Column, row: int) -> Column:
    """Seeded 60-bit hash, non-negative — md5 hex prefix, the replayable
    construction shared with the MinHash oracles (ANSI SQL analog:
    ``CAST(('0x' || substr(md5(r || '|' || k), 1, 15)) AS BIGINT)``)."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(str(row)), key)), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _cms_entries(key: Column, depth: int, width: int) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                (_cms_hash(key, r) % width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )


def cms_sketches(
    df: DataFrame,
    key_col: str,
    *group_cols: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group count-min cells ``(*group_cols, row, bucket, c)`` — at
    most ``depth × width`` rows per group no matter how many distinct
    keys the group holds. One pass, map-side partial counts; only cell
    rows shuffle (``depth`` short rows per input row pre-combine, cell
    rows post-combine). Persist per ingest window and answer any
    coarser frequency rollup from the cells alone via ``cms_merge``."""
    key = F.col(key_col).cast("string")
    w = F.col(weight_col) if weight_col else F.lit(1)
    return (
        df.select(
            *group_cols,
            F.explode(_cms_entries(key, depth, width)).alias("_rb"),
            w.alias("_w"),
        )
        .groupBy(
            *group_cols,
            F.col("_rb.row").alias("row"),
            F.col("_rb.bucket").alias("bucket"),
        )
        .agg(F.sum("_w").cast("long").alias("c"))
    )


def cms_merge(cells: DataFrame, *group_cols: str) -> DataFrame:
    """Re-aggregate persisted cells to a coarser grouping: cell-wise
    SUM over (row, bucket) — associative, so day cells roll into
    week/month/all-time without touching raw data."""
    return cells.groupBy(*group_cols, "row", "bucket").agg(
        F.sum("c").alias("c")
    )


def cms_estimate(
    cells: DataFrame,
    candidates: DataFrame,
    key_col: str,
    *group_cols: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Frequency estimates ``(*group_cols, key_col, est)`` for each
    candidate key against each group's sketch: min over the key's
    ``depth`` cells, absent cells counting as 0 (a key the group never
    saw estimates 0, not the smallest collision). ``candidates`` is by
    definition small (the keys you suspect are heavy), so the
    probe-cell build broadcasts; the only shuffled side is the cell
    table, itself ≤ depth × width rows per group. A CMS cannot
    enumerate its keys — candidates come from the caller (e.g. a
    per-partition local top-k, or the domain being monitored)."""
    probes = candidates.select(
        F.col(key_col).cast("string").alias(key_col)
    ).distinct().select(
        key_col,
        F.explode(
            _cms_entries(F.col(key_col), depth, width)
        ).alias("_rb"),
    ).select(
        key_col,
        F.col("_rb.row").alias("row"),
        F.col("_rb.bucket").alias("bucket"),
    )
    if group_cols:
        groups = cells.select(*group_cols).distinct()
        probes = groups.join(F.broadcast(probes))
    est = (
        probes.join(
            cells, [*group_cols, "row", "bucket"], "left"
        )
        .groupBy(*group_cols, key_col)
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est"))
    )
    return est


def kmv_distinct(
    df: DataFrame, key_col: str, k: int = 256, seed: str = "ksp"
) -> DataFrame:
    """K-minimum-values cardinality estimate (Bar-Yossef et al. 2002):
    keep the ``k`` smallest distinct 60-bit key hashes; if fewer than
    ``k`` exist that IS the exact count, else estimate
    ``(k-1) · 2^60 / h_k`` (relative error ~ 1/√k). HLL beats it on
    size-per-accuracy, but KMV is built from the repo's replayable
    seeded-md5 hash — fully expressible in ANSI SQL, and its bottom-k
    hash set is the same object ``bottom_k_sample`` returns, so one
    pass yields both a fixed-size uniform sample AND a cardinality
    estimate. Mergeable: union the per-part bottom-k sets, re-take the
    bottom k."""
    from kenshin_spark.functions.sampling import hash60

    mins = (
        df.select(hash60(key_col, seed).alias("_h"))
        .distinct()
        .orderBy("_h")
        .limit(k)
    )
    agg = mins.agg(
        F.count(F.lit(1)).alias("_n"), F.max("_h").alias("_hk")
    )
    est = (
        F.when(F.col("_n") < k, F.col("_n").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(float(2**60)) / F.col("_hk")
        )
    )
    # raw estimate, no rounding: presentation-rounding is the caller's
    # (and cross-engine round() on an arbitrary double is the known
    # hash-match trap — floor to integer for oracle rows)
    return agg.select(est.alias("approx_distinct"))


# ---------------------------------------------------------------------------
# Equi-width histogram sketch (mergeable quantile rollups)
# ---------------------------------------------------------------------------

HIST_BINS = 256


def histogram_sketches(
    df: DataFrame,
    value_col: str,
    *group_cols: str,
    lo: float,
    hi: float,
    bins: int = HIST_BINS,
) -> DataFrame:
    """Per-group equi-width histogram cells ``(*group_cols, bucket, c)``
    over ``[lo, hi)`` — the quantile member of the sketch-rollup family
    (HLL = distinct, CMS = frequency, this = distribution). ≤ bins+2
    rows per group whatever the value cardinality; bucket 0 / bins+1
    catch underflow/overflow so the cells conserve total count. Bounds
    are FIXED by the caller (schema knowledge or a prior min/max pass):
    fixed bounds are what make day cells mergeable — a data-dependent
    range would bucket each day differently. Merge = cell-wise sum
    (``cms_merge`` works verbatim on these cells: same (bucket, c)
    shape, no row column)."""
    v = F.col(value_col).cast("double")
    width = (hi - lo) / bins
    bucket = (
        F.when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(bins + 1))
        .otherwise((F.floor((v - lo) / F.lit(width)) + 1).cast("int"))
    )
    return (
        df.where(v.isNotNull())
        .select(*group_cols, bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def histogram_merge(cells: DataFrame, *group_cols: str) -> DataFrame:
    """Roll histogram cells to a coarser grouping (cell-wise sum)."""
    return cells.groupBy(*group_cols, "bucket").agg(
        F.sum("c").alias("c")
    )


def histogram_quantile(
    cells: DataFrame,
    q: float,
    *group_cols: str,
    lo: float,
    hi: float,
    bins: int = HIST_BINS,
) -> DataFrame:
    """Quantile estimate per group from histogram cells: the left edge
    of the first bucket whose cumulative count reaches ``q × total``
    (±one bin width of the true quantile for in-range data; underflow
    clamps to ``lo``, overflow to ``hi``). Left-edge (not interpolated)
    keeps the estimate an exact float expression both engines compute
    identically — the cross-engine float-discipline the oracle rows
    need. One window pass over ≤ bins+2 rows per group."""
    from pyspark.sql import Window

    width = (hi - lo) / bins
    w = (
        Window.partitionBy(*group_cols).orderBy("bucket")
        if group_cols
        else Window.partitionBy(F.lit(1)).orderBy("bucket")
    )
    cum = cells.select(
        *group_cols,
        "bucket",
        F.sum("c").over(w).alias("_cum"),
        F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
        ).alias("_tot"),
    )
    hit = cum.where(F.col("_cum") >= F.lit(q) * F.col("_tot"))
    first = hit.groupBy(*group_cols).agg(F.min("bucket").alias("_b"))
    edge = (
        F.when(F.col("_b") <= 0, F.lit(float(lo)))
        .when(F.col("_b") >= bins + 1, F.lit(float(hi)))
        .otherwise(F.lit(float(lo)) + (F.col("_b") - 1) * F.lit(width))
    )
    return first.select(
        *group_cols,
        F.round(edge, 6).alias(f"q{str(q).replace('.', '_')}"),
    )


# ---------------------------------------------------------------------------
# KMV set algebra (Theta-sketch-style union / intersection / Jaccard)
# ---------------------------------------------------------------------------


def kmv_bottom_set(
    df: DataFrame, key_col: str, k: int = 256, seed: str = "ksp"
) -> DataFrame:
    """The KMV state object itself: the ``k`` smallest distinct seeded
    60-bit key hashes as ``(h BIGINT)`` rows — at most ``k`` rows
    whatever the input size, so it persists/broadcasts for free. This
    is the sketch the set-algebra estimators below compose; built from
    the same replayable md5 family as every sampler here, so a DuckDB
    oracle reproduces it bit-for-bit."""
    from kenshin_spark.functions.sampling import hash60

    return (
        df.select(hash60(key_col, seed).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def _kmv_estimate_cols(n_col, hk_col, k: int):
    """Shared (k-1)·2^60/h_k estimator as a Column (exact when the set
    holds fewer than k hashes)."""
    return (
        F.when(n_col < k, n_col.cast("double"))
        .otherwise(F.lit(float(k - 1)) * F.lit(float(2**60)) / hk_col)
    )


def kmv_union(sets: list[DataFrame], k: int = 256) -> DataFrame:
    """Union of KMV states = bottom-k of the concatenated hash sets
    (the mergeability identity: bottom-k of a union == bottom-k of the
    per-part bottom-ks). Returns another ``(h)`` state, so unions chain
    and roll up tier-style."""
    out = sets[0]
    for s in sets[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("h").limit(k)


def kmv_set_estimates(
    a: DataFrame, b: DataFrame, k: int = 256
) -> DataFrame:
    """Theta-sketch-style set algebra over two KMV states ``a``/``b``
    (as returned by ``kmv_bottom_set``): one row ``(union_est,
    inter_est, jaccard_ppm, n_sample, n_both)``.

    Method (Dasgupta et al., Theta sketches; public construction): the
    union state M = bottom-k(A ∪ B) is a uniform hash-sample of the
    union, so the fraction of M's hashes present in BOTH input states
    estimates the Jaccard similarity; intersection = jaccard ×
    union_est (inclusion–exclusion-free, no bias from differing set
    sizes). All arithmetic is integer or floor-scaled (ppm) so both
    engines agree exactly; estimates floor to BIGINT like the other
    oracle-facing sketch rows."""
    m = kmv_union([a, b], k)
    flagged = (
        m.join(a.withColumnRenamed("h", "ha"), m["h"] == F.col("ha"), "left")
        .join(b.withColumnRenamed("h", "hb"), m["h"] == F.col("hb"), "left")
        .select(
            "h",
            (F.col("ha").isNotNull() & F.col("hb").isNotNull())
            .cast("long")
            .alias("_both"),
        )
    )
    agg = flagged.agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("h").alias("_hk"),
        F.sum("_both").alias("_nb"),
    )
    union_est = F.floor(_kmv_estimate_cols(F.col("_n"), F.col("_hk"), k))
    jac_ppm = F.floor(F.col("_nb") * 1000000 / F.col("_n"))
    inter_est = F.floor(
        _kmv_estimate_cols(F.col("_n"), F.col("_hk"), k)
        * F.col("_nb")
        / F.col("_n")
    )
    return agg.select(
        union_est.cast("long").alias("union_est"),
        inter_est.cast("long").alias("inter_est"),
        jac_ppm.cast("long").alias("jaccard_ppm"),
        F.col("_n").alias("n_sample"),
        F.col("_nb").alias("n_both"),
    )
