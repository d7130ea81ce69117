"""KMV set algebra (Theta-sketch-style union/intersection/Jaccard):
accuracy on known overlaps, exactness below k, mergeability, and the
DuckDB bit-for-bit replay of the state object."""

import duckdb
import pytest
from pyspark.sql import functions as F

from kenshin_spark.functions.sketches import (
    kmv_bottom_set,
    kmv_set_estimates,
    kmv_union,
)


def _ids(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id AS k")


def test_exact_below_k(spark):
    a = _ids(spark, 0, 100)
    b = _ids(spark, 50, 150)
    row = kmv_set_estimates(
        kmv_bottom_set(a, "k", 256), kmv_bottom_set(b, "k", 256), 256
    ).collect()[0]
    # fewer than k distinct hashes in the union -> every number exact
    assert row.union_est == 150
    assert row.inter_est == 50
    assert row.n_sample == 150
    assert row.n_both == 50
    assert row.jaccard_ppm == 50 * 1_000_000 // 150


def test_estimate_accuracy_large(spark):
    a = _ids(spark, 0, 5000)
    b = _ids(spark, 2500, 9000)
    row = kmv_set_estimates(
        kmv_bottom_set(a, "k", 256), kmv_bottom_set(b, "k", 256), 256
    ).collect()[0]
    # ~1/sqrt(256) ≈ 6% relative error; allow 4 sigma
    assert abs(row.union_est - 9000) / 9000 < 0.25
    assert abs(row.inter_est - 2500) / 2500 < 0.45
    assert 0 < row.jaccard_ppm < 1_000_000


def test_union_mergeability(spark):
    whole = kmv_bottom_set(_ids(spark, 0, 4000), "k", 128)
    parts = kmv_union(
        [
            kmv_bottom_set(_ids(spark, 0, 1500), "k", 128),
            kmv_bottom_set(_ids(spark, 1500, 4000), "k", 128),
        ],
        128,
    )
    assert sorted(r.h for r in whole.collect()) == sorted(
        r.h for r in parts.collect()
    )


def test_state_replays_in_duckdb(spark):
    got = sorted(
        r.h for r in kmv_bottom_set(_ids(spark, 0, 3000), "k", 64).collect()
    )
    want = [
        r[0]
        for r in duckdb.sql(
            """
            SELECT DISTINCT CAST(('0x' || substr(md5('ksp|' ||
                     CAST(range AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM range(0, 3000) ORDER BY h LIMIT 64
            """
        ).fetchall()
    ]
    assert got == sorted(want)


def test_disjoint_sets(spark):
    a = _ids(spark, 0, 3000)
    b = _ids(spark, 100000, 103000)
    row = kmv_set_estimates(
        kmv_bottom_set(a, "k", 128), kmv_bottom_set(b, "k", 128), 128
    ).collect()[0]
    # disjoint inputs: the union sample holds no shared hashes
    assert row.n_both == 0
    assert row.inter_est == 0
    assert row.jaccard_ppm == 0


