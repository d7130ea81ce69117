"""Deterministic hash-based sampling.

``df.sample()`` is seeded per-partition: the kept set changes with the
partition layout, so a re-run after a repartition (or on a different
cluster size) yields a different sample — useless for reproducible
pipeline subsets. Hash sampling keys the decision to the ROW:
``hash(seed || key) mod D < rate·D``, so membership is a pure function
of the data. It is also a consistent-sampling primitive: the 1% sample
is a subset of the 10% sample (same seed), and two tables sampled on the
same key stay joinable.

The hash is the repo's portable md5-prefix-as-BIGINT, so any SQL engine
reproduces the exact membership — sampling is oracle-checkable, not just
"approximately 10%".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEN = 1_000_000


def hash60(key: Column | str, seed: str = "ksp") -> Column:
    """The raw 60-bit seeded hash every sampler derives from (SQL twin:
    ``('0x' || substr(md5(seed || '|' || key), 1, 15))::BIGINT``)."""
    k = F.col(key) if isinstance(key, str) else key
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), k.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def sample_bucket(key: Column | str, seed: str = "ksp") -> Column:
    """Uniform bucket in [0, DEN) from the row key — the shared primitive
    (Spark side; the SQL twin is
    ``('0x' || substr(md5(seed || '|' || key), 1, 15))::BIGINT % DEN``)."""
    return hash60(key, seed) % DEN


def hash_sample(
    df: DataFrame, rate: float, key_col: str, seed: str = "ksp"
) -> DataFrame:
    """Keep each row iff its key hashes under ``rate`` — layout- and
    cluster-independent, re-run-stable."""
    return df.where(sample_bucket(key_col, seed) < int(rate * DEN))


def bottom_k_sample(
    df: DataFrame, k: int, key_col: str, seed: str = "ksp"
) -> DataFrame:
    """Fixed-SIZE uniform sample: the ``k`` rows whose keys hash
    lowest. Rate sampling (`hash_sample`) can't promise "exactly 100k
    eval docs" from a corpus of unknown size; bottom-k can, stays
    deterministic and layout-independent like every sampler here, and
    executes as TakeOrderedAndProject — each partition forwards at most
    ``k`` rows, no full shuffle/sort. It is also MERGEABLE: bottom-k of
    a union == bottom-k of the per-part bottom-k's (take the union's
    lowest k), so per-day samples roll up without touching raw data —
    and the k-th lowest hash doubles as the KMV cardinality estimator
    (``kmv_distinct`` in sketches-style use). Ties: md5 collisions at
    60 bits are ~impossible, but ordering is (hash, key) so even a
    collision stays deterministic."""
    return (
        df.withColumn("_h", hash60(key_col, seed))  # raw 60-bit: no
        .orderBy("_h", key_col)                     # bucket-tie bias
        .limit(k)
        .drop("_h")
    )


def stratified_hash_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    key_col: str,
    default_rate: float = 0.0,
    seed: str = "ksp",
) -> DataFrame:
    """Per-stratum rates (e.g. downsample over-represented sources of a
    training corpus): threshold chosen by a CASE chain on the stratum,
    membership still keyed to the row hash. Entirely JVM expressions —
    the filter pushes into the scan."""
    thr: Column = F.lit(int(default_rate * DEN))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == stratum, F.lit(int(rate * DEN))
        ).otherwise(thr)
    return df.where(sample_bucket(key_col, seed) < thr)
