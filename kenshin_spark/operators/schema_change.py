"""M6 — schema change / resize (bin/kenshin-change-schema.py:25-125).

The reference diffs a file's header against the target config and picks:

- **CHANGE_META**: only xFilesFactor / aggregation changed → patch the
  header in place;
- **REBUILD**: archive layout changed → create a tmp file, re-fetch every
  archive from the old file, re-update into the new one, atomic rename
  with a ``.bak`` of the original.

Spark-native: CHANGE_META is a pure catalog/metadata update (the stored
points don't encode xff or agg). REBUILD is a batch re-aggregation job —
each new tier is rebuilt from the *finest old tier that still covers that
time range* (the same age-based source selection the reference gets from
fetch's archive selection), written to a fresh root, then swapped in with
``.bak`` semantics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kenshin_spark.config import AGG_SQL, Schema
from kenshin_spark.operators.align import align_ts
from kenshin_spark.store import ParquetTieredStore

CHANGE_META = "CHANGE_META"
REBUILD = "REBUILD"
NO_CHANGE = "NO_CHANGE"


def diff_schema(old: Schema, new: Schema) -> str:
    """The reference's header-vs-config diff (bin/kenshin-change-schema.py:
    38-63): archive layout change → REBUILD; xff/agg-only → CHANGE_META."""
    if old.archives != new.archives:
        return REBUILD
    if (old.xff, old.agg_method) != (new.xff, new.agg_method):
        return CHANGE_META
    return NO_CHANGE


def _layered_points(store: ParquetTieredStore, now: int):
    """One frame of (metric, ts, value, sec_per_point): each tier's rows
    restricted to the age band where that tier is the finest survivor —
    equivalent to the reference re-fetching every archive (each archive
    only has data the finer ones already expired)."""
    frames = []
    prev_retention = 0
    for i, arch in enumerate(store.schema.archives):
        t = store.read(i).withColumn(
            "sec_per_point", F.lit(arch.sec_per_point).cast("long")
        )
        if prev_retention:
            t = t.where(F.col("ts") < now - prev_retention)
        t = t.where(F.col("ts") >= now - arch.retention)
        frames.append(t)
        prev_retention = arch.retention
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def build_tiers_from_layered(
    spark: SparkSession,
    pts,
    schema: Schema,
    root: str,
    now: int,
) -> ParquetTieredStore:
    """Build a fresh store from layered points ``(metric, ts, value,
    sec_per_point)`` — the shared kernel of REBUILD (M6) and the
    whisper/kenshin rehash import (M7, bin/kenshin-rehash.py:22-100):
    each target tier aggregates the at-least-as-fine source rows and
    passes coarser leftovers through on their own grid."""
    store = ParquetTieredStore(spark, schema, root)
    agg = AGG_SQL[schema.agg_method]
    for i, arch in enumerate(schema.archives):
        step = arch.sec_per_point
        src = pts.where(F.col("ts") >= now - arch.retention)
        fine = src.where(F.col("sec_per_point") <= step)
        coarse = src.where(F.col("sec_per_point") > step)
        re_agg = fine.groupBy(
            "metric", align_ts(F.col("ts").cast("long"), step).alias("ts")
        ).agg(F.expr(agg.format(v="value", t="ts")).alias("value"))
        tier = re_agg.unionByName(coarse.select("metric", "ts", "value"))
        store.overwrite(i, tier)
    return store


def rebuild_store(
    spark: SparkSession,
    old: ParquetTieredStore,
    new_schema: Schema,
    new_root: str,
    now: int,
) -> ParquetTieredStore:
    """REBUILD: re-aggregate the old store's layered points into the new
    archive list (the re-fetch/re-update loop of
    bin/kenshin-change-schema.py:80-114, as one batch job per tier)."""
    return build_tiers_from_layered(
        spark, _layered_points(old, now), new_schema, new_root, now
    )


def import_whisper_to_store(
    spark: SparkSession,
    path_glob: str,
    schema: Schema,
    root: str,
    now: int,
    base: str | None = None,
) -> ParquetTieredStore:
    """M7 — the rehash/import job (bin/kenshin-rehash.py:22-100): read a
    whisper tree, re-shard + re-aggregate into a tiered store. The
    reference runs 10 worker processes over a queue; here the shuffle IS
    the re-shard and every tier build is one distributed aggregation."""
    from kenshin_spark.sources.whisper import read_whisper_points

    pts = read_whisper_points(spark, path_glob, base=base).select(
        "metric", "ts", "value", "sec_per_point"
    )
    return build_tiers_from_layered(spark, pts, schema, root, now)


def import_kenshin_to_store(
    spark: SparkSession,
    path_glob: str,
    schema: Schema,
    root: str,
    now: int,
) -> ParquetTieredStore:
    """M7, kenshin-source flavor — the reference's rehash merges EXISTING
    kenshin .hs files as well as whisper trees
    (bin/kenshin-rehash.py:103-214, ``src_type == 'kenshin'``): read the
    reference's own data files, re-shard + re-aggregate into a tiered
    store. Same distributed shape as the whisper import — the shuffle IS
    the re-shard."""
    from kenshin_spark.sources.kenshin_hs import read_kenshin_points

    pts = read_kenshin_points(spark, path_glob).select(
        "metric", "ts", "value", "sec_per_point"
    )
    return build_tiers_from_layered(spark, pts, schema, root, now)


@dataclass
class SchemaChangeResult:
    action: str
    store: ParquetTieredStore


def change_schema(
    spark: SparkSession,
    store: ParquetTieredStore,
    new_schema: Schema,
    now: int,
    tmp_root: str | None = None,
) -> SchemaChangeResult:
    """The full M6 entry point. CHANGE_META returns the same storage under
    the new policy object; REBUILD builds at ``tmp_root`` then swaps it in
    with a ``.bak`` of the original (bin/kenshin-change-schema.py:115-125).
    """
    action = diff_schema(store.schema, new_schema)
    if action in (NO_CHANGE, CHANGE_META):
        return SchemaChangeResult(
            action,
            ParquetTieredStore(spark, new_schema, store.root),
        )
    tmp_root = tmp_root or store.root + ".tmp"
    rebuild_store(spark, store, new_schema, tmp_root, now)
    bak = store.root + ".bak"
    if os.path.exists(bak):
        raise FileExistsError(f"backup already exists: {bak}")
    os.rename(store.root, bak)
    # the rebuilt tree carries its own manifest log, and its keys are
    # root-relative, so the whole-root swap moves a valid log along —
    # exactly the reference's .bak dance
    # (bin/kenshin-change-schema.py:103-112)
    os.rename(tmp_root, store.root)
    return SchemaChangeResult(
        REBUILD,
        ParquetTieredStore(spark, new_schema, store.root),
    )
