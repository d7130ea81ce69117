"""Engine-path rows over the tiered store (``store_``, ``ingest_``,
``serving_``, ``hs_``, ``whisper_``, ``schemachange_``, ``config_``,
``maintenance_``, ``ratelimit_``).

Most rows drive REAL ``kenshin_spark`` code (``ParquetTieredStore`` and
friends) against a scratch store built from the ``events`` table, and
return a deterministic DataFrame whose DuckDB oracle replays the result
from the same parquet inputs. Store content is the canonical 60 s
last-write-wins point grid (the LWW60 fragment every ts_* row uses);
aggregation tiers use ``max`` so cross-engine float identity is exact.

Scratch stores live under the system temp dir, one directory per
(scale-factor, row) pair, wiped at the start of every invocation so
repeated runs (the driver runs each fn twice: once for the plan sweep,
once for the result) are idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kenshin_spark.config import Schema, SchemaSet
from kenshin_spark.operators.align import last_write_wins
from kenshin_spark.queries._common import (
    _BANK,
    _W,
    CUT,
    NOW_T,
    PTS,
    ROUTING_SCHEMAS,
    _grid_sql,
    _points,
    _store,
    _week_slots,
    _workdir,
    register,
)
from kenshin_spark.session import pin
from kenshin_spark.store import ParquetTieredStore


#: 2024-01-01 / 2024-01-02 UTC — the single-day window
DAY1_START = 1704067200
DAY1_END = 1704153600


@register(
    "store_cow_upsert_roundtrip",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "S4/W6 — upsert round-trip: the week's 60s LWW grid split into "
    "even/odd-minute batches, upserted into tier0 as two stamped appends "
    "(store.py upsert), read back via the tier read path; the resolve "
    "must reassemble exactly the one-pass LWW grid",
)
def q_store_cow_upsert_roundtrip(spark, sf_dir):
    st = _store(spark, sf_dir, "store_cow_upsert_roundtrip")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    return st.read(0)


@register(
    "store_cow_lww_overwrite",
    f"""
    WITH {_W}
    SELECT metric, ts,
           CASE WHEN metric = 'click' THEN value + 1.0 ELSE value END AS value
    FROM t0
    """,
    "W6 — the ring overwrite semantics: a second upsert appends every "
    "'click' slot with value+1 under a later stamp; the batch must win "
    "last-write-wins against the stored rows (kenshin/storage.py:468-480 "
    "overwrite-in-place analog) while other metrics pass through "
    "untouched",
)
def q_store_cow_lww_overwrite(spark, sf_dir):
    st = _store(spark, sf_dir, "store_cow_lww_overwrite")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots)
    st.upsert(
        0,
        slots.where(F.col("metric") == "click").withColumn(
            "value", F.col("value") + F.lit(1.0)
        ),
    )
    return st.read(0)


@register(
    "store_mor_append_resolve",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "S4 (mor) — merge-on-read: the same two-batch upsert lands as "
    "O(batch) appends stamped with the manifest seq that commits each, "
    "and the read path's resolve aggregation collapses the log to the "
    "winning row per slot — the one-pass LWW grid, at the write cost "
    "shape of the reference's ring write (kenshin/storage.py:499-503)",
)
def q_store_mor_append_resolve(spark, sf_dir):
    st = _store(spark, sf_dir, "store_mor_append_resolve")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    return st.read(0)


@register(
    "store_mor_null_overwrite",
    f"""
    WITH {_W}
    SELECT metric, ts,
           CASE WHEN metric = 'click' THEN NULL ELSE value END AS value
    FROM t0
    """,
    "W6/R6 — NULL overwrite through the mor log: a later append writes "
    "NULL into every 'click' slot and the resolve must keep the NULL "
    "(the reference's null sentinel written over a live slot, "
    "kenshin/storage.py:468-480 + consts.py:4) — max(struct(_seq, "
    "value)) is NULL-safe in the payload position",
)
def q_store_mor_null_overwrite(spark, sf_dir):
    st = _store(spark, sf_dir, "store_mor_null_overwrite")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots)
    st.upsert(
        0,
        slots.where(F.col("metric") == "click").withColumn(
            "value", F.lit(None).cast("double")
        ),
    )
    return st.read(0)


@register(
    "store_mor_compact_invariance",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "M8 — full-tier compaction folds the mor append log to one row per "
    "slot (stamp 0) in one manifest commit; the read after "
    "compact must be byte-identical to the resolved log before it "
    "(read invariance — compaction is pure IO-shape maintenance)",
)
def q_store_mor_compact_invariance(spark, sf_dir):
    st = _store(spark, sf_dir, "store_mor_compact_invariance")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    st.compact(0)
    return st.read(0)


@register(
    "store_compact_day_targeted",
    f"""
    WITH {_W}, days AS (SELECT DISTINCT CAST(floor(ts / 86400) AS BIGINT)
                        AS day FROM t0)
    SELECT day, CAST(2 AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_after
    FROM days
    """,
    "M8 — the small-file audit + targeted per-day compaction loop: two "
    "single-file mor appends leave exactly 2 files in every touched day "
    "partition; needs_compaction flags every day, compact(days=...) "
    "rewrites exactly those days to 1 sorted file each (store.py "
    "file_report/needs_compaction/compact — the maintenance pass an "
    "append-log parquet store needs where the reference's preallocated "
    ".hs files can't fragment, README.md:63-71)",
)
def q_store_compact_day_targeted(spark, sf_dir):
    st = _store(spark, sf_dir, "store_compact_day_targeted")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0).coalesce(1))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60).coalesce(1))
    before = {r["day"]: r["n_files"] for r in st.file_report(0)}
    flagged = st.needs_compaction(0, max_files_per_day=1, min_file_bytes=1)
    st.compact(0, days=flagged)
    after = {r["day"]: r["n_files"] for r in st.file_report(0)}
    return spark.createDataFrame(
        sorted(
            (d, before[d], after[d]) for d in before
        ),
        "day long, files_before long, files_after long",
    )


@register(
    "store_upsert_bounded_rewrite",
    f"""
    WITH {_W}, days AS (SELECT DISTINCT CAST(floor(ts / 86400) AS BIGINT)
                        AS day FROM t0)
    SELECT day,
           CASE WHEN day = (SELECT min(day) FROM days)
                THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS n_files
    FROM days
    """,
    "S4 — the partition-bounded write guarantee, observed from file "
    "shape: after a full-week append plus a second upsert touching ONLY "
    "the first day, exactly that day partition has a second file and "
    "every untouched day still has one (the 100 TB analog of the "
    "reference's one-sequential-write-per-file, README.md:63-66 — an "
    "upsert never rewrites partitions it doesn't touch)",
)
def q_store_upsert_bounded_rewrite(spark, sf_dir):
    st = _store(spark, sf_dir, "store_upsert_bounded_rewrite")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.coalesce(1))
    first_day = DAY1_START // 86400
    st.upsert(
        0,
        slots.where((F.col("ts") / 86400).cast("long") == first_day)
        .coalesce(1),
    )
    return spark.createDataFrame(
        [(r["day"], r["n_files"]) for r in st.file_report(0)],
        "day long, n_files long",
    )


@register(
    "store_expire_retention",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    t0 AS (SELECT metric, ts - ts % 60 AS ts,
                  arg_max(value, arrival) AS value
           FROM pts GROUP BY 1, 2)
    SELECT metric, ts, value FROM t0, now_t
    WHERE CAST(floor(ts / 86400) AS BIGINT)
          >= CAST(floor((now - 604800) / 86400) AS BIGINT)
    """,
    "O4 — retention expiry as partition drop: the full month upserted "
    "into a 7-day-retention tier, expire(now) deletes every day "
    "partition wholly older than retention (the ring overwriting "
    "itself, SURVEY O4); the surviving read is exactly the grid "
    "restricted to days >= the cutoff day — sub-day precision is "
    "fetch-side clamping's job, never a partition rewrite",
)
def q_store_expire_retention(spark, sf_dir):
    schema = Schema.from_strings(
        "bank7", ".*", "60s:7d,3600s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = _store(spark, sf_dir, "store_expire_retention", schema=schema)
    pts = _points(spark, sf_dir)
    slots = last_write_wins(pts, 60, arrival_col="arrival")
    st.upsert(0, slots)
    now = int(pts.agg(F.max("ts")).collect()[0][0])
    st.expire(now)
    return st.read(0)


@register(
    "store_read_range_pruning",
    f"""
    WITH {_W}
    SELECT metric, ts, value FROM t0
    WHERE ts >= {DAY1_START + 2 * 86400} AND ts < {DAY1_START + 4 * 86400}
    """,
    "R1 — the partition-pruned range scan: read_range mirrors the ts "
    "window onto the day partition column so the parquet scan prunes "
    "whole partitions before any IO (Catalyst can't infer day = "
    "ts//86400 on its own — store.py read_range is where the 100 TB "
    "read path gets its pruning)",
)
def q_store_read_range_pruning(spark, sf_dir):
    st = _store(spark, sf_dir, "store_read_range_pruning")
    st.upsert(0, _week_slots(spark, sf_dir))
    return st.read_range(
        0, DAY1_START + 2 * 86400, DAY1_START + 4 * 86400
    )


@register(
    "store_hot_tier_hourly_units",
    f"""
    WITH {_W}
    SELECT DISTINCT CAST(floor(ts / 3600) AS BIGINT) AS day
    FROM t0 WHERE ts < {DAY1_END}
    """,
    "S4 — hot-tier partition granularity: a tier whose whole retention "
    "is <= 2 days partitions HOURLY (store.py part_unit), so a "
    "compaction folds and a fetch plans ~an hour of appends, not a "
    "whole day; the row reads the physical partition column back "
    "(day = ts//3600 for hot tiers)",
)
def q_store_hot_tier_hourly_units(spark, sf_dir):
    schema = Schema.from_strings(
        "hot", ".*", "60s:1d,300s:7d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = _store(spark, sf_dir, "store_hot_tier_hourly_units", schema=schema)
    slots = _week_slots(spark, sf_dir).where(F.col("ts") < DAY1_END)
    st.upsert(0, slots)
    return (
        spark.read.parquet(st.tier_path(0))
        .select(F.col("day").cast("long").alias("day"))
        .distinct()
    )


_METRICS5 = ["click", "error", "purchase", "signup", "view"]


@register(
    "store_fetch_tier_selection",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    t0 AS (SELECT metric, ts - ts % 60 AS ts,
                  arg_max(value, arrival) AS value
           FROM pts GROUP BY 1, 2),
    tier AS (SELECT metric, ts - ts % 3600 AS ts, max(value) AS value
             FROM t0 GROUP BY 1, 2),
    {_grid_sql("now - 1296000", "now - 1209600", 3600)}
    """,
    "R2 — age-based archive selection through the persisted store: a "
    "15-day-old one-day window on a 7d/90d two-tier store must read the "
    "COARSE tier (query age, not span, picks resolution — "
    "kenshin/storage.py:639-642) and grid at 3600 s; the scan goes "
    "through read_range so only the window's day partitions are touched",
)
def q_store_fetch_tier_selection(spark, sf_dir):
    schema = Schema.from_strings(
        "bank7", ".*", "60s:7d,3600s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = _store(spark, sf_dir, "store_fetch_tier_selection", schema=schema)
    pts = _points(spark, sf_dir)
    # consumed twice (tier-0 overwrite + the 3600 s re-agg overwrite) —
    # pin so the LWW aggregation runs once per execution
    t0 = pin(last_write_wins(pts, 60, arrival_col="arrival"))
    st.overwrite(0, t0)
    st.overwrite(
        1,
        t0.groupBy(
            "metric", (F.col("ts") - F.col("ts") % 3600).alias("ts")
        ).agg(F.max("value").alias("value")),
    )
    now = int(pts.agg(F.max("ts")).collect()[0][0])
    return st.fetch(_METRICS5, now - 1296000, now - 1209600, now)


@register(
    "store_fetch_clamp_window",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    t0 AS (SELECT metric, ts - ts % 60 AS ts,
                  arg_max(value, arrival) AS value
           FROM pts GROUP BY 1, 2),
    tier AS (SELECT metric, ts - ts % 3600 AS ts, max(value) AS value
             FROM t0 GROUP BY 1, 2),
    {_grid_sql("now - 2592000", "now", 3600)}
    """,
    "R1 — fetch clamping through the store: a request reaching 100 days "
    "back and 5 days forward clamps to [now - max_retention, now] "
    "(kenshin/storage.py:622-644), which lands the query age on the "
    "coarse tier; the 30-day hourly grid NULL-fills slots with no data",
)
def q_store_fetch_clamp_window(spark, sf_dir):
    schema = Schema.from_strings(
        "bank30", ".*", "60s:7d,3600s:30d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = _store(spark, sf_dir, "store_fetch_clamp_window", schema=schema)
    pts = _points(spark, sf_dir)
    t0 = pin(last_write_wins(pts, 60, arrival_col="arrival"))  # 2 consumers
    st.overwrite(0, t0)
    st.overwrite(
        1,
        t0.groupBy(
            "metric", (F.col("ts") - F.col("ts") % 3600).alias("ts")
        ).agg(F.max("value").alias("value")),
    )
    now = int(pts.agg(F.max("ts")).collect()[0][0])
    return st.fetch(
        _METRICS5, now - 100 * 86400, now + 5 * 86400, now
    )


@register(
    "store_fetch_glob_catalog",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    tier AS (SELECT metric, ts - ts % 60 AS ts,
                    arg_max(value, arrival) AS value
             FROM pts GROUP BY 1, 2),
    {_grid_sql("now - 86400", "now", 60,
               "SELECT DISTINCT event_type AS metric FROM events "
               "WHERE event_type IN ('click', 'view')")}
    """,
    "R8/M4 — the graphite render-target entry point over the store: "
    "fetch_glob('{{click,view}}') resolves the alternation glob against "
    "the CATALOG (a tiny dim scan — never the tier itself when a "
    "catalog exists), then fetches the matching series on the hot tier "
    "at 60 s; glob semantics are graphite-web's node-matching rules",
)
def q_store_fetch_glob_catalog(spark, sf_dir):
    schema = Schema.from_strings(
        "bank7", ".*", "60s:7d,3600s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = _store(spark, sf_dir, "store_fetch_glob_catalog", schema=schema)
    pts = _points(spark, sf_dir)
    t0 = last_write_wins(pts, 60, arrival_col="arrival")
    st.overwrite(0, t0)
    now = int(pts.agg(F.max("ts")).collect()[0][0])
    st.catalog_add(
        t0.select("metric").distinct().select(
            "metric",
            F.lit("bank7").alias("schema_name"),
            F.lit(now).cast("long").alias("created_ts"),
        )
    )
    return st.fetch_glob("{click,view}", now - 86400, now, now)


@register(
    "store_fetch_after_compact",
    f"""
    WITH pts AS ({PTS}),
    ptsw AS (SELECT * FROM pts WHERE ts < {CUT}),
    now_t AS (SELECT max(ts) AS now FROM (
        SELECT ts - ts % 60 AS ts FROM ptsw)),
    tier AS (SELECT metric, ts - ts % 60 AS ts,
                    arg_max(value, arrival) AS value
             FROM ptsw GROUP BY 1, 2),
    {_grid_sql("now - 86400", "now", 60)}
    """,
    "R1-R3 + M8 composed — fetch over a compacted mor tier: after two "
    "append batches and a full-tier compaction (one manifest commit "
    "retiring the logs and adding the folds), the clamp/select/prune/"
    "grid-fill read path must see exactly the resolved grid — the fetch "
    "plans the folded files and they resolve identically",
)
def q_store_fetch_after_compact(spark, sf_dir):
    from pyspark.sql import Observation

    st = _store(spark, sf_dir, "store_fetch_after_compact")
    # `now` rides the eager checkpoint's own materialization via
    # observe() (measured: eager localCheckpoint fires CollectMetrics)
    # instead of a dedicated max(ts) job over the pinned slots
    obs = Observation()
    slots = _week_slots(spark, sf_dir).observe(
        obs, F.max("ts").alias("mx")
    ).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    st.compact(0)
    # raw slot max, not roundup: LWW60 slot timestamps are 60 s-aligned
    now = int(obs.get["mx"])
    return st.fetch(_METRICS5, now - 86400, now, now)


@register(
    "store_propagate_cascade",
    f"""
    WITH {_W},
    t1 AS (SELECT metric, ts - ts % 300 AS ts, max(value) AS value
           FROM t0 GROUP BY 1, 2),
    t2 AS (SELECT metric, ts - ts % 3600 AS ts, max(value) AS value
           FROM t1 GROUP BY 1, 2)
    SELECT CAST(1 AS BIGINT) AS tier, metric, ts, value FROM t1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS tier, metric, ts, value FROM t2
    """,
    "W7 — the write-time downsample cascade through the persisted "
    "store: one tier0 upsert propagates batch-bounded re-aggregations "
    "into 300 s and 3600 s tiers (each tier re-aggregates the FINER "
    "tier's touched slots — archive-to-archive, exactly "
    "kenshin/storage.py:510-586); the coarse reads must equal the "
    "nested max cascade",
)
def q_store_propagate_cascade(spark, sf_dir):
    st = _store(spark, sf_dir, "store_propagate_cascade")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots)
    st.propagate(slots.select("metric", "ts"))
    t1 = st.read(1).select(F.lit(1).cast("long").alias("tier"), "metric", "ts", "value")
    t2 = st.read(2).select(F.lit(2).cast("long").alias("tier"), "metric", "ts", "value")
    return t1.unionByName(t2)


@register(
    "store_propagate_from_seq_cdc",
    f"""
    WITH {_W}
    SELECT metric, ts - ts % 300 AS ts, max(value) AS value
    FROM t0 GROUP BY 1, 2
    """,
    "W7 catch-up — CDC-driven re-propagation: after the first batch "
    "cascades normally, a second batch lands in tier0 WITHOUT "
    "propagating; propagate_from_seq diffs tier0 between the pinned "
    "manifest seq and head (changed_between — resolved states, not raw "
    "appends) and re-downsamples ONLY the changed slots; tier1 must "
    "converge to the same 300 s grid a full rebuild would produce",
)
def q_store_propagate_from_seq_cdc(spark, sf_dir):
    from pyspark.sql import Observation

    st = _store(spark, sf_dir, "store_propagate_from_seq_cdc")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    a = slots.where(F.col("ts") % 120 == 0)
    b = slots.where(F.col("ts") % 120 == 60)
    # fold the cascade bounds into the upsert's own write action (the
    # same observe() discipline StreamingIngest uses) — no dedicated
    # min/max job
    obs = Observation()
    st.upsert(
        0, a.observe(obs, F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    )
    st.propagate(
        a.select("metric", "ts"), bounds=(obs.get["lo"], obs.get["hi"])
    )
    pinned = st.commit.epoch()
    st.upsert(0, b)
    st.propagate_from_seq(pinned)
    return st.read(1)


@register(
    "store_changed_between_cdc",
    f"""
    WITH {_W}
    SELECT metric, ts, value + 1.0 AS value FROM t0 WHERE metric = 'click'
    """,
    "CDC between manifest seqs: changed_between(seq1, seq2) must emit "
    "exactly the slots whose RESOLVED value differs between the two "
    "snapshots — here the second batch overwrites every 'click' slot "
    "with value+1, so the diff is precisely those slots at their new "
    "values (both sides collapse their log prefix before diffing; feed "
    "to incremental downstream jobs instead of re-reading the tier)",
)
def q_store_changed_between_cdc(spark, sf_dir):
    st = _store(spark, sf_dir, "store_changed_between_cdc")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots)
    seq1 = st.commit.epoch()
    st.upsert(
        0,
        slots.where(F.col("metric") == "click").withColumn(
            "value", F.col("value") + F.lit(1.0)
        ),
    )
    return st.changed_between(0, seq1, st.commit.epoch())


@register(
    "store_read_at_snapshot",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "snapshot read over the mor log: read(version=seq1) plans from the "
    "file list committed at the pinned manifest seq, so a pipeline that "
    "pinned commit.epoch() sees the store exactly as it stood — the "
    "later click-overwrite batch (seq2) must be invisible",
)
def q_store_read_at_snapshot(spark, sf_dir):
    st = _store(spark, sf_dir, "store_read_at_snapshot")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots)
    seq1 = st.commit.epoch()
    st.upsert(
        0,
        slots.where(F.col("metric") == "click").withColumn(
            "value", F.col("value") + F.lit(1.0)
        ),
    )
    return st.read(0, version=seq1)


@register(
    "store_delete_metrics",
    f"""
    WITH {_W}
    SELECT metric, ts, value FROM t0
    WHERE metric NOT IN ('click', 'error')
    """,
    "M5 — metric delete: remove two metrics' rows from every tier "
    "(bin/kenshin-delete.py:39-96 blanks header slots; real tables "
    "remove the rows) via a tier rewrite in one manifest commit; "
    "survivors are untouched",
)
def q_store_delete_metrics(spark, sf_dir):
    st = _store(spark, sf_dir, "store_delete_metrics")
    st.upsert(0, _week_slots(spark, sf_dir))
    st.delete_metrics(["click", "error"])
    return st.read(0)


@register(
    "store_backup_restore",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "backup_to: recursive tier+catalog+manifest copy through the Hadoop "
    "FS API (crash-consistent because tier data is immutable-once-"
    "written parquet); a store opened at the backup root must read the "
    "identical grid",
)
def q_store_backup_restore(spark, sf_dir):
    st = _store(spark, sf_dir, "store_backup_restore")
    st.upsert(0, _week_slots(spark, sf_dir))
    dest = os.path.join(_workdir(sf_dir, "store_backup_restore_dst"), "store")
    st.backup_to(dest)
    restored = ParquetTieredStore(st.spark, _BANK, dest)
    return restored.read(0)


@register(
    "store_recover_crash_swap",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "crash recovery: a tier directory swap that died between stage and "
    "promote (how pre-manifest trees compacted and deleted; migrate "
    "runs recover() before adopting one) leaves the live tier missing "
    "and its .bak present; recover() restores the .bak (the reference's "
    "change-schema .bak dance, bin/kenshin-change-schema.py:103-112) "
    "and the read is whole again",
)
def q_store_recover_crash_swap(spark, sf_dir):
    st = _store(spark, sf_dir, "store_recover_crash_swap")
    st.upsert(0, _week_slots(spark, sf_dir))
    p = st.tier_path(0)
    # simulate the crash window: live dir staged away, promote never ran
    assert st.fs.rename(p, p + ".bak")
    st.recover()
    return st.read(0)


@register(
    "store_overwrite_replaces",
    f"""
    WITH {_W}
    SELECT metric, ts, value FROM t0 WHERE metric <> 'view'
    """,
    "initial-load semantics: overwrite() fully replaces a tier's "
    "content (dynamic partition overwrite rewrites every day the new "
    "frame carries — here all of them), so a reload without 'view' "
    "leaves no stale 'view' rows behind in any partition",
)
def q_store_overwrite_replaces(spark, sf_dir):
    st = _store(spark, sf_dir, "store_overwrite_replaces")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.overwrite(0, slots)
    st.overwrite(0, slots.where(F.col("metric") != "view"))
    return st.read(0)


@register(
    "store_fetch_grid_nulls",
    f"""
    WITH {_W}, now_t AS (SELECT {CUT} AS now),
    tier AS (SELECT metric, ts, value FROM t0),
    {_grid_sql("now - 86400", "now", 60)}
    """,
    "R3 — grid materialization over the store with NULL fill: fetching "
    "the week's last day emits exactly (until-from)/step slots per "
    "metric, NULL where the tier has no point "
    "(kenshin/storage.py:646-660,681-694) — the empty minutes arrive as "
    "real SQL NULLs, not sentinels",
)
def q_store_fetch_grid_nulls(spark, sf_dir):
    st = _store(spark, sf_dir, "store_fetch_grid_nulls")
    st.upsert(0, _week_slots(spark, sf_dir))
    return st.fetch(_METRICS5, CUT - 86400, CUT, CUT)


@register(
    "schemachange_rebuild_layout",
    f"""
    WITH {_W}
    SELECT CAST(0 AS BIGINT) AS tier, metric, ts - ts % 120 AS ts,
           max(value) AS value
    FROM t0 GROUP BY 2, 3
    UNION ALL
    SELECT CAST(1 AS BIGINT) AS tier, metric, ts - ts % 600 AS ts,
           max(value) AS value
    FROM t0 GROUP BY 2, 3
    """,
    "M6 — REBUILD: archive layout change re-aggregates the old store's "
    "layered points into the new tier list (the re-fetch/re-update loop "
    "of bin/kenshin-change-schema.py:80-114 as one batch job per tier); "
    "each new tier aggregates the finest old rows that still cover its "
    "time range — 60s/300s tiers rebuilt as 120s/600s",
)
def q_schemachange_rebuild_layout(spark, sf_dir):
    from kenshin_spark.operators.schema_change import rebuild_store

    old_schema = Schema.from_strings(
        "old", ".*", "60s:90d,300s:180d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    new_schema = Schema.from_strings(
        "new", ".*", "120s:90d,600s:180d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    root = _workdir(sf_dir, "schemachange_rebuild_layout")
    old = ParquetTieredStore(spark, old_schema, os.path.join(root, "old"))
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    old.overwrite(0, slots)
    old.overwrite(
        1,
        slots.groupBy(
            "metric", (F.col("ts") - F.col("ts") % 300).alias("ts")
        ).agg(F.max("value").alias("value")),
    )
    now = int(slots.agg(F.max("ts")).collect()[0][0])
    new = rebuild_store(
        spark, old, new_schema, os.path.join(root, "new"), now
    )
    return (
        new.read(0)
        .select(F.lit(0).cast("long").alias("tier"), "metric", "ts", "value")
        .unionByName(
            new.read(1).select(
                F.lit(1).cast("long").alias("tier"), "metric", "ts", "value"
            )
        )
    )


@register(
    "schemachange_meta_verdicts",
    """
    SELECT * FROM (VALUES
      ('agg',    'CHANGE_META'),
      ('layout', 'REBUILD'),
      ('same',   'NO_CHANGE'),
      ('xff',    'CHANGE_META')
    ) AS t(change_case, verdict)
    """,
    "M6 — the header-vs-config diff (bin/kenshin-change-schema.py:38-63) "
    "as engine code: archive-layout changes demand a REBUILD, xff/agg "
    "changes are metadata-only (CHANGE_META — stored points encode "
    "neither), identical schemas are NO_CHANGE",
)
def q_schemachange_meta_verdicts(spark, sf_dir):
    from kenshin_spark.operators.schema_change import diff_schema

    base = _BANK
    cases = [
        ("same", base),
        ("xff", Schema.from_strings(
            "bank", ".*", "60s:90d,300s:180d,3600s:366d", xff=50.0,
            agg_method="max", cache_retention=600)),
        ("agg", Schema.from_strings(
            "bank", ".*", "60s:90d,300s:180d,3600s:366d", xff=20.0,
            agg_method="min", cache_retention=600)),
        ("layout", Schema.from_strings(
            "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
            cache_retention=600)),
    ]
    return spark.createDataFrame(
        [(c, diff_schema(base, s)) for c, s in cases],
        "change_case string, verdict string",
    )


def _export_day1(spark, sf_dir, name, null_metric=None, n_files=4):
    """Shared .hs export: day 1's LWW60 grid packed into fnv-sharded
    .hs files via the distributed exporter."""
    from kenshin_spark.sources.kenshin_hs import export_kenshin_hs

    out_dir = os.path.join(_workdir(sf_dir, name), "hs")
    day1 = _week_slots(spark, sf_dir).where(F.col("ts") < DAY1_END)
    if null_metric is not None:
        day1 = day1.withColumn(
            "value",
            F.when(F.col("metric") == null_metric, F.lit(None).cast("double"))
            .otherwise(F.col("value")),
        )
    manifest = export_kenshin_hs(
        [day1], [(60, 1440)], out_dir, n_files=n_files,
        agg_method="max", xff=0.5,
    )
    manifest.collect()  # force the distributed pack to run
    return out_dir


#: the .hs wide-format replay: a ring slot holds ONE timestamp and a
#: value per metric packed in the file, so import emits every member
#: metric at every populated slot (NULL where the member had no point).
#: Built as {placeholder} so the fnv CTE (defined below) can slot in.
_HS_ROUNDTRIP_SQL = """
    t0d AS (SELECT metric, ts, {value_expr} AS value
            FROM t0 WHERE ts < {day1_end}),
    slots AS (SELECT DISTINCT s.shard, t.ts
              FROM t0d t JOIN sharded s ON s.metric = t.metric),
    grid AS (SELECT m.metric, sl.ts
             FROM sharded m JOIN slots sl ON sl.shard = m.shard)
    SELECT grid.metric, grid.ts, t0d.value
    FROM grid LEFT JOIN t0d ON t0d.metric = grid.metric
                           AND t0d.ts = grid.ts"""


#: fnv1a-32 over day-1 metric names, sharded N-ways — the reference's
#: own placement hash in recursive SQL (rurouni/fnv1a.pyx:6-23)
def _fnv_shard_sql(n: int) -> str:
    return f"""
    h AS (
      SELECT metric, 1 AS i, CAST(2166136261 AS BIGINT) AS hash
      FROM (SELECT DISTINCT metric FROM t0 WHERE ts < {DAY1_END})
      UNION ALL
      SELECT metric, i + 1,
             (xor(hash, CAST(unicode(substr(metric, i, 1)) AS BIGINT))
              * 16777619) % 4294967296
      FROM h WHERE i <= length(metric)
    ),
    final AS (SELECT metric, hash FROM h WHERE i = length(metric) + 1),
    signed AS (
      SELECT metric,
             CASE WHEN hash >= 2147483648 THEN hash - 4294967296
                  ELSE hash END AS h32
      FROM final
    ),
    sharded AS (
      SELECT metric, (((h32 % {n}) + {n}) % {n}) AS shard FROM signed
    )"""


@register(
    "hs_export_import_roundtrip",
    f"WITH RECURSIVE {_W},\n{_fnv_shard_sql(4)},\n"
    + _HS_ROUNDTRIP_SQL.format(value_expr="value", day1_end=DAY1_END),
    "S6b both ways — the migration loop: day 1's grid packed into the "
    "reference's OWN .hs container (metadata + TAB tags + archive infos "
    "+ point rings, kenshin/storage.py:281-348) by the distributed "
    "exporter, then decoded back by the import connector; the "
    "round-trip must be point-exact (f64 values pack losslessly, ring "
    "slots at (ts//spp) %% count)",
)
def q_hs_export_import_roundtrip(spark, sf_dir):
    from kenshin_spark.sources.kenshin_hs import read_kenshin_points

    out_dir = _export_day1(spark, sf_dir, "hs_export_import_roundtrip")
    return read_kenshin_points(spark, os.path.join(out_dir, "*.hs")).select(
        "metric", "ts", "value"
    )


@register(
    "hs_null_sentinel_roundtrip",
    f"WITH RECURSIVE {_W},\n{_fnv_shard_sql(4)},\n"
    + _HS_ROUNDTRIP_SQL.format(
        value_expr="CASE WHEN metric = 'click' THEN NULL ELSE value END",
        day1_end=DAY1_END,
    ),
    "R6 — the NULL sentinel through the .hs loop: NULL values pack as "
    "the reference's NULL_VALUE sentinel (-4294967296.0, "
    "kenshin/consts.py:4) and must come back as real SQL NULLs on "
    "import — never as the sentinel float",
)
def q_hs_null_sentinel_roundtrip(spark, sf_dir):
    from kenshin_spark.sources.kenshin_hs import read_kenshin_points

    out_dir = _export_day1(
        spark, sf_dir, "hs_null_sentinel_roundtrip", null_metric="click"
    )
    return read_kenshin_points(spark, os.path.join(out_dir, "*.hs")).select(
        "metric", "ts", "value"
    )


@register(
    "hs_header_inspect",
    f"""
    WITH RECURSIVE {_W},
    {_fnv_shard_sql(4)}
    SELECT 'max' AS agg_method, CAST(86400 AS BIGINT) AS max_retention,
           CAST(0.5 AS DOUBLE) AS xff, CAST(1 AS BIGINT) AS archive_count,
           CAST(count(*) AS BIGINT) AS n_metrics
    FROM sharded GROUP BY shard
    """,
    "R9/S6b — header inspect over exported .hs files: one row per "
    "file with the unpacked metadata (agg id, max retention, xff f32, "
    "archive count) plus the packed metric-list size; per-file metric "
    "counts replay the fnv1a placement hash in recursive SQL, so the "
    "export LAYOUT (which metric landed in which bucket file) is "
    "verified bit-for-bit, not just the bytes",
)
def q_hs_header_inspect(spark, sf_dir):
    from kenshin_spark.sources.kenshin_hs import read_kenshin_headers

    out_dir = _export_day1(spark, sf_dir, "hs_header_inspect")
    return read_kenshin_headers(
        spark, os.path.join(out_dir, "*.hs")
    ).select(
        "agg_method",
        F.col("max_retention").cast("long").alias("max_retention"),
        F.col("xff").cast("double").alias("xff"),
        F.col("archive_count").cast("long").alias("archive_count"),
        F.size("metrics").cast("long").alias("n_metrics"),
    )


@register(
    "ingest_admit_ratelimit",
    f"""
    WITH pts AS ({PTS})
    SELECT metric, CAST(count(*) AS BIGINT) AS n_points
    FROM pts
    WHERE ts < {CUT} AND metric IN ('click', 'error', 'purchase')
    GROUP BY metric
    """,
    "P4 — create rate limiting through the ingest admission path "
    "(rurouni/cache.py:119-143): a 3-creates/minute token bucket admits "
    "only the first 3 unknown metrics in deterministic name order "
    "(click, error, purchase); points of denied metrics are dropped by "
    "the catalog routing join — fully distributed, the driver only sees "
    "two scalars",
)
def q_ingest_admit_ratelimit(spark, sf_dir):
    from kenshin_spark.ratelimit import FakeClock
    from kenshin_spark.streaming.ingest import StreamingIngest

    root = _workdir(sf_dir, "ingest_admit_ratelimit")
    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, root, max_creates_per_minute=3, clock=FakeClock(0.0)
    )
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    admitted = ing._admit(pts.select("metric", "ts", "value"), now=0)
    return admitted.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_points")
    )


@register(
    "maintenance_keepalive_dormant",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    cat AS (
      SELECT DISTINCT event_type AS metric FROM events
      UNION ALL
      SELECT * FROM (VALUES ('ghost.a'), ('ghost.b')) AS g(metric)
    )
    SELECT metric, now AS ts, CAST(0.0 AS DOUBLE) AS value
    FROM cat, now_t
    """,
    "M9 — keep-alive zero points (bin/kenshin-send-zero-metric.py:26-45): "
    "every cataloged metric whose newest point is older than a day (the "
    "week's metrics, measured against the month-end now) or missing "
    "entirely (the ghost entries) gets a 0-value point at now, so "
    "dormant metrics survive a migration window",
)
def q_maintenance_keepalive_dormant(spark, sf_dir):
    from kenshin_spark.operators.maintenance import keep_alive_points

    pts = _points(spark, sf_dir)
    week = pts.where(F.col("ts") < CUT)
    catalog = week.select("metric").distinct().unionByName(
        spark.createDataFrame([("ghost.a",), ("ghost.b",)], ["metric"])
    )
    now = int(pts.agg(F.max("ts")).collect()[0][0])
    return keep_alive_points(catalog, week, now, dormant_after=86400)


@register(
    "store_gc_candidates",
    """
    SELECT * FROM (VALUES
      ('ghost.a', 'bank', CAST(0 AS BIGINT)),
      ('ghost.b', 'bank', CAST(0 AS BIGINT))
    ) AS t(metric, schema_name, created_ts)
    """,
    "M8 — GC candidates (bin/kenshin-find-file.py:51-73): cataloged "
    "metrics with no live points left — the catalog entries whose data "
    "fully expired (the ghosts) fall out of the anti-join against the "
    "live tier; metrics with points never appear",
)
def q_store_gc_candidates(spark, sf_dir):
    from kenshin_spark.operators.maintenance import gc_candidates

    st = _store(spark, sf_dir, "store_gc_candidates")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots)
    st.catalog_add(
        slots.select("metric").distinct()
        .unionByName(
            spark.createDataFrame([("ghost.a",), ("ghost.b",)], ["metric"])
        )
        .select(
            "metric",
            F.lit("bank").alias("schema_name"),
            F.lit(0).cast("long").alias("created_ts"),
        )
    )
    return gc_candidates(st.catalog(), st.read(0))


@register(
    "store_catalog_routing",
    """
    SELECT metric,
           CASE WHEN regexp_matches(metric, '^error') THEN 'errors'
                WHEN regexp_matches(metric, '^(purchase|signup)$')
                  THEN 'conversion'
                WHEN regexp_matches(metric, '^(click|view)') THEN 'traffic'
                ELSE 'default' END AS schema_name
    FROM (SELECT DISTINCT event_type AS metric FROM events)
    """,
    "P5 + catalog — first-regex-wins schema routing persisted through "
    "the store catalog (rurouni/storage.py:196-210): metric creation "
    "renders the routing decision as a declarative CASE regex chain "
    "(JVM-side, no driver round-trip) and the catalog dim table holds "
    "the placement",
)
def q_store_catalog_routing(spark, sf_dir):
    st = _store(spark, sf_dir, "store_catalog_routing")
    metrics = _week_slots(spark, sf_dir).select("metric").distinct()
    st.catalog_add(
        metrics.select(
            "metric",
            F.expr(ROUTING_SCHEMAS.match_sql_case()).alias("schema_name"),
            F.lit(0).cast("long").alias("created_ts"),
        )
    )
    return st.catalog().select("metric", "schema_name")


@register(
    "store_mor_seq_stamps",
    f"""
    WITH {_W}
    SELECT CAST(1 AS BIGINT) AS seq, CAST(count(*) AS BIGINT) AS n_rows
    FROM t0 WHERE ts % 120 = 0
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT)
    FROM t0 WHERE ts % 120 = 60
    UNION ALL
    SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT)
    FROM t0 WHERE metric = 'click'
    """,
    "mor write stamps — each write is stamped with the manifest seq "
    "that commits it: three upserts on a fresh root must carry stamps "
    "exactly 1, 2, 3 (each batch stamped whole — snapshots are "
    "batch-atomic), with row counts matching each batch; no stamp is "
    "ever reused or skipped on the happy path",
)
def q_store_mor_seq_stamps(spark, sf_dir):
    st = _store(spark, sf_dir, "store_mor_seq_stamps")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    st.upsert(0, slots.where(F.col("metric") == "click"))
    return (
        spark.read.parquet(st.tier_path(0))
        .groupBy(F.col("_seq").cast("long").alias("seq"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "ratelimit_bucket_replay",
    f"""
    WITH RECURSIVE pts AS ({PTS}),
    mins AS (
      SELECT ts - ts % 60 AS m, CAST(count(*) AS BIGINT) AS want
      FROM pts
      WHERE metric = 'signup' AND ts >= {DAY1_START} AND ts < {DAY1_END}
      GROUP BY 1
    ),
    seq AS (
      SELECT unnest(generate_series({DAY1_START}, {DAY1_END} - 60, 60)) AS m
    ),
    sched AS (
      SELECT s.m, coalesce(w.want, 0) AS want,
             row_number() OVER (ORDER BY s.m) AS i
      FROM seq s LEFT JOIN mins w ON w.m = s.m
    ),
    rep(i, tokens, granted) AS (
      SELECT 1, CAST(10 AS DOUBLE),
             least((SELECT want FROM sched WHERE i = 1), CAST(10 AS BIGINT))
      UNION ALL
      SELECT r.i + 1,
             least(CAST(10 AS DOUBLE), r.tokens - r.granted + 3.0),
             least(
               (SELECT want FROM sched WHERE i = r.i + 1),
               CAST(least(CAST(10 AS DOUBLE),
                          r.tokens - r.granted + 3.0) AS BIGINT)
             )
      FROM rep r WHERE r.i < (SELECT max(i) FROM sched)
    )
    SELECT s.m AS minute_ts, s.want, r.granted
    FROM rep r JOIN sched s ON s.i = r.i
    WHERE s.want > 0
    """,
    "P4 — the token bucket's continuous-refill semantics replayed "
    "minute-by-minute (rurouni/utils.py:55-104): capacity 10, 3 "
    "tokens/minute refill, demand = day 1's per-minute signup counts; "
    "every minute drains min(want, floor(tokens)) and the oracle "
    "replays the exact recurrence as a recursive CTE — burst capacity, "
    "depletion and refill verified step for step",
)
def q_ratelimit_bucket_replay(spark, sf_dir):
    from kenshin_spark.ratelimit import FakeClock, TokenBucket

    counts = {
        int(r["m"]): int(r["c"])
        for r in _points(spark, sf_dir)
        .where(
            (F.col("metric") == "signup")
            & (F.col("ts") >= DAY1_START)
            & (F.col("ts") < DAY1_END)
        )
        .groupBy((F.col("ts") - F.col("ts") % 60).alias("m"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    clock = FakeClock(0.0)
    bucket = TokenBucket(capacity=10, fill_rate=0.05, clock=clock)
    rows = []
    for m in range(DAY1_START, DAY1_END, 60):
        want = counts.get(m, 0)
        granted = bucket.drain(want)
        if want > 0:
            rows.append((m, want, granted))
        clock.advance(60)
    return spark.createDataFrame(
        rows, "minute_ts long, want long, granted long"
    )


@register(
    "config_retention_matrix",
    """
    SELECT * FROM (VALUES
      ('60s:1d',  CAST(60 AS BIGINT),    CAST(1440 AS BIGINT)),
      ('1m:7d',   CAST(60 AS BIGINT),    CAST(10080 AS BIGINT)),
      ('15m:5y',  CAST(900 AS BIGINT),   CAST(175200 AS BIGINT)),
      ('300:7200',CAST(300 AS BIGINT),   CAST(7200 AS BIGINT)),
      ('1h:30d',  CAST(3600 AS BIGINT),  CAST(720 AS BIGINT)),
      ('1d:1y',   CAST(86400 AS BIGINT), CAST(365 AS BIGINT))
    ) t(retention, sec_per_point, points)
    """,
    "M11 retention-definition parsing (kenshin/storage.py:130-181 "
    "grammar): '<precision>:<duration>' with s/m/h/d/w/y units, bare "
    "ints meaning seconds for precision and POINTS for duration — the "
    "six canonical spellings parsed by RetentionParser against the "
    "independently hand-computed spec table (a golden matrix, not a "
    "dual-run: the oracle states the grammar's answers)",
)
def q_config_retention_matrix(spark, sf_dir):
    from kenshin_spark.config import RetentionParser

    specs = ["60s:1d", "1m:7d", "15m:5y", "300:7200", "1h:30d", "1d:1y"]
    rows = []
    for s in specs:
        spp, pts = RetentionParser.parse_retention_def(s)
        rows.append((s, spp, pts))
    return spark.createDataFrame(
        rows, "retention string, sec_per_point long, points long"
    )


@register(
    "serving_tcp_cache_query",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "S3 — the reference's cache-query wire protocol end-to-end "
    "(rurouni/protocols.py:65-84): a CacheQueryServer on an ephemeral "
    "TCP port serves the week's hot grid through 4-byte length framing "
    "+ restricted pickle; one cache_query round-trip per metric "
    "reassembles exactly the LWW60 grid — the bytes cross a real "
    "socket, not a function call",
)
def q_serving_tcp_cache_query(spark, sf_dir):
    from kenshin_spark.serving import CacheQueryServer, cache_query

    slots = _week_slots(spark, sf_dir)
    hot: dict[str, list] = {}
    for r in slots.collect():  # bounded: one week of minute slots
        hot.setdefault(r["metric"], []).append((r["ts"], r["value"]))
    for v in hot.values():
        v.sort()
    server = CacheQueryServer(lambda m: hot.get(m, []))
    host, port = server.start()
    try:
        rows = [
            (m, int(ts), float(v))
            for m in sorted(hot)
            for ts, v in cache_query(host, port, m)
        ]
    finally:
        server.stop()
    return spark.createDataFrame(rows, "metric string, ts long, value double")


@register(
    "serving_http_render",
    f"""
    WITH {_W}, now_t AS (SELECT {CUT} AS now),
    tier AS (SELECT metric, ts, value FROM t0
             WHERE metric IN ('click', 'view')),
    g AS (WITH {_grid_sql("now - 21600", "now", 60,
                          "SELECT DISTINCT event_type AS metric FROM events "
                          "WHERE event_type IN ('click', 'view')")})
    SELECT metric, ts, abs(value) AS value FROM g
    """,
    "S3 — the HTTP /render endpoint over a persisted store: GET "
    "/render?target=absolute({click,view}) resolves the glob against "
    "the store, grid-fills the window, applies the render chain, and "
    "returns JSON rows — the graphite-web /render parity surface, "
    "exercised through a real HTTP request",
)
def q_serving_http_render(spark, sf_dir):
    import json
    from urllib.request import urlopen

    from kenshin_spark.serving import HttpFetchServer, store_render_fn

    schema = Schema.from_strings(
        "bank7", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = ParquetTieredStore(
        spark, schema,
        os.path.join(_workdir(sf_dir, "serving_http_render"), "store"),
    )
    st.upsert(0, _week_slots(spark, sf_dir))
    server = HttpFetchServer(
        fetch_fn=lambda ms, f, u, n: [],
        render_fn=store_render_fn(st),
    )
    host, port = server.start()
    try:
        url = (
            f"http://{host}:{port}/render?target=absolute(%7Bclick,view%7D)"
            f"&from={CUT - 21600}&until={CUT}&now={CUT}"
        )
        with urlopen(url) as resp:
            body = json.loads(resp.read())
    finally:
        server.stop()
    return spark.createDataFrame(
        [(m, int(ts), None if v is None else float(v))
         for m, ts, v in body["rows"]],
        "metric string, ts long, value double",
    )


@register(
    "whisper_export_import_roundtrip",
    f"""
    WITH {_W}
    SELECT metric, ts, value FROM t0 WHERE ts < {DAY1_END}
    """,
    "S6 both ways — graphite interop: day 1's grid exported to Whisper "
    ".wsp (one metric per file, ring slots at (ts//spp) %% count, gaps "
    "stay ts==0 — Whisper has no NULL sentinel) by the distributed "
    "exporter, then decoded back by the import connector; unlike the "
    ".hs loop there is no wide-format padding, so the round-trip is "
    "exactly the tall grid",
)
def q_whisper_export_import_roundtrip(spark, sf_dir):
    from kenshin_spark.sources.whisper import (
        export_whisper,
        read_whisper_points,
    )

    out_dir = os.path.join(
        _workdir(sf_dir, "whisper_export_import_roundtrip"), "wsp"
    )
    day1 = _week_slots(spark, sf_dir).where(F.col("ts") < DAY1_END)
    export_whisper([day1], [(60, 1440)], out_dir, agg_method="max").collect()
    return read_whisper_points(
        spark, os.path.join(out_dir, "*.wsp"), base=out_dir
    ).select("metric", "ts", "value")


@register(
    "whisper_rehash_to_store",
    f"""
    WITH {_W}
    SELECT metric, ts - ts % 300 AS ts, max(value) AS value
    FROM t0 WHERE ts < {DAY1_END} GROUP BY 1, 2
    """,
    "M7 — the rehash/import job (bin/kenshin-rehash.py:22-100): a "
    "Whisper tree read distributedly, re-aggregated into a tiered "
    "store's 300 s archive (finest-source re-agg, max), read back via "
    "the tier read path — the full migration composition as one row",
)
def q_whisper_rehash_to_store(spark, sf_dir):
    from kenshin_spark.operators.schema_change import import_whisper_to_store
    from kenshin_spark.sources.whisper import export_whisper

    root = _workdir(sf_dir, "whisper_rehash_to_store")
    out_dir = os.path.join(root, "wsp")
    day1 = _week_slots(spark, sf_dir).where(F.col("ts") < DAY1_END)
    export_whisper([day1], [(60, 1440)], out_dir, agg_method="max").collect()
    schema = Schema.from_strings(
        "rehash", ".*", "300s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = import_whisper_to_store(
        spark,
        os.path.join(out_dir, "*.wsp"),
        schema,
        os.path.join(root, "store"),
        now=DAY1_END,
        base=out_dir,
    )
    return st.read(0)


@register(
    "ingest_salted_lww",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "SURVEY §7.3 skew wiring — the two-stage salted LWW align: "
    "process_batch with skew_salts=4 spreads each hot metric's "
    "reduction over 4 reducers (salted partial arg-max, then the "
    "per-slot final), and the stored tier must be bit-identical to the "
    "single-stage grid",
)
def q_ingest_salted_lww(spark, sf_dir):
    from kenshin_spark.streaming.ingest import StreamingIngest

    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark,
        schemas,
        _workdir(sf_dir, "ingest_salted_lww"),
        clock=lambda: float(CUT),
        skew_salts=4,
    )
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    ing.process_batch(pts, 0)
    return ing.store_for(schemas.schemas[0]).read(0)


@register(
    "ingest_dead_letter_quality",
    f"""
    WITH pts AS ({PTS}), ptsw AS (SELECT * FROM pts WHERE ts < {CUT})
    SELECT 'dead' AS kind, CAST(count(*) AS BIGINT) AS n_rows
    FROM ptsw WHERE value NOT BETWEEN 0 AND 100
    UNION ALL
    SELECT 'stored', CAST(count(*) AS BIGINT)
    FROM (
      SELECT metric, ts - ts % 60 AS slot FROM ptsw
      WHERE value BETWEEN 0 AND 100
      GROUP BY 1, 2
    )
    """,
    "streaming quality gate + dead letter: process_batch with an "
    "in_range(value, 0, 100) check routes violating rows to the "
    "dead-letter parquet (replayable, unlike the reference's log line "
    "rurouni/protocols.py:40-42) and stores only the survivors' LWW "
    "slots; the row audits both sides of the split",
)
def q_ingest_dead_letter_quality(spark, sf_dir):
    from kenshin_spark.quality import in_range
    from kenshin_spark.streaming.ingest import StreamingIngest

    root = _workdir(sf_dir, "ingest_dead_letter_quality")
    dl = os.path.join(root, "dead")
    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, os.path.join(root, "store"),
        clock=lambda: float(CUT), dead_letter_path=dl,
        quality_checks=[in_range("value", 0, 100)],
    )
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    ing.process_batch(pts, 0)
    dead = spark.read.parquet(dl).select(
        F.lit("dead").alias("kind"), F.lit(1).alias("_one")
    )
    stored = ing.store_for(schemas.schemas[0]).read(0).select(
        F.lit("stored").alias("kind"), F.lit(1).alias("_one")
    )
    return (
        dead.unionByName(stored)
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "ingest_age_routing_tiers",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts, now_t WHERE now - ts <= 604800 GROUP BY 1, 2
    ),
    prop AS (
      SELECT metric, ts - ts % 300 AS ts, max(value) AS value
      FROM t0 GROUP BY 1, 2
    ),
    direct AS (
      SELECT metric, ts - ts % 300 AS ts, arg_max(value, arrival) AS value
      FROM pts, now_t
      WHERE now - ts > 604800 AND now - ts <= 7776000 GROUP BY 1, 2
    ),
    t1 AS (
      SELECT coalesce(d.metric, p.metric) AS metric,
             coalesce(d.ts, p.ts) AS ts,
             CASE WHEN d.metric IS NOT NULL THEN d.value
                  ELSE p.value END AS value
      FROM direct d
      FULL OUTER JOIN prop p ON p.metric = d.metric AND p.ts = d.ts
    )
    SELECT CAST(0 AS BIGINT) AS tier, metric, ts, value FROM t0
    UNION ALL
    SELECT CAST(1 AS BIGINT), metric, ts, value FROM t1
    """,
    "W4 + W7 composed — point-age archive routing through the full "
    "ingest path (kenshin/storage.py:384-425): the newest week lands in "
    "the 60 s tier and CASCADES into the 300 s tier (the write-time "
    "downsample every tier0 flush triggers), while older points route "
    "STRAIGHT into the 300 s tier at its own resolution, their direct "
    "write winning last-write-wins over any cascaded slot it collides "
    "with — the oracle replays the exact write order",
)
def q_ingest_age_routing_tiers(spark, sf_dir):
    from kenshin_spark.streaming.ingest import StreamingIngest

    pts = _points(spark, sf_dir)
    now = int(pts.agg(F.max("ts")).collect()[0][0])
    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:7d,300s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, _workdir(sf_dir, "ingest_age_routing_tiers"),
        clock=lambda: float(now),
    )
    ing.process_batch(pts, 0)
    st = ing.store_for(schemas.schemas[0])
    return (
        st.read(0)
        .select(F.lit(0).cast("long").alias("tier"), "metric", "ts", "value")
        .unionByName(
            st.read(1).select(
                F.lit(1).cast("long").alias("tier"), "metric", "ts", "value"
            )
        )
    )


@register(
    "store_bucketed_colocated_join",
    f"""
    WITH {_W},
    stats AS (SELECT metric, CAST(count(*) AS BIGINT) AS n_slots,
                     max(value) AS peak
              FROM t0 GROUP BY metric)
    SELECT t0.metric, t0.ts, t0.value, s.n_slots, s.peak
    FROM t0 JOIN stats s ON s.metric = t0.metric
    """,
    "SCALING §storage — bucketed co-location: both sides persisted "
    "bucketed-by-metric + sorted (write_bucketed), so the fact-to-stats "
    "join plans sort-merge with NO exchange on either side (pinned in "
    "tests/test_plans.py for the bucketing module); the row verifies "
    "the joined VALUES, the plan test verifies the shuffle-free shape",
)
def q_store_bucketed_colocated_join(spark, sf_dir):
    from kenshin_spark.bucketing import cobucketed_join, write_bucketed

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    slots_t = f"r10_slots_{tag}"
    stats_t = f"r10_stats_{tag}"
    for t in (slots_t, stats_t):
        # drop catalog entry AND any orphaned warehouse dir from a prior
        # session (saveAsTable refuses a pre-existing location)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        import shutil as _shutil

        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        _shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    slots = _week_slots(spark, sf_dir)
    write_bucketed(slots, slots_t, n_buckets=8)
    write_bucketed(
        slots.groupBy("metric").agg(
            F.count(F.lit(1)).alias("n_slots"),
            F.max("value").alias("peak"),
        ),
        stats_t,
        n_buckets=8,
        sort_cols=("metric",),
    )
    return cobucketed_join(spark, slots_t, stats_t, ["metric"]).select(
        "metric", "ts", "value", "n_slots", "peak"
    )


@register(
    "store_fetch_glob_no_catalog",
    f"""
    WITH {_W}, now_t AS (SELECT {CUT} AS now),
    tier AS (SELECT metric, ts, value FROM t0),
    {_grid_sql("now - 43200", "now", 60,
               "SELECT DISTINCT event_type AS metric FROM events "
               "WHERE event_type LIKE 'c%'")}
    """,
    "R8/M4 — glob resolution WITHOUT a catalog: fetch_glob falls back "
    "to the tier-0 metric namespace (the path a fresh store takes "
    "before any catalog_add), resolving 'c*' against the stored "
    "metrics and grid-filling the last 12 hours",
)
def q_store_fetch_glob_no_catalog(spark, sf_dir):
    schema = Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = ParquetTieredStore(
        spark, schema,
        os.path.join(_workdir(sf_dir, "store_fetch_glob_no_catalog"), "store"),
    )
    st.upsert(0, _week_slots(spark, sf_dir))
    return st.fetch_glob("c*", CUT - 43200, CUT, CUT)


_CONF_EXAMPLE = """
[metric_test]
pattern = .*metric_test.*
retentions = 1s:1h,6s:2h
xFilesFactor = 1.0
aggregationMethod = average
cacheRetention = 10s
metricsPerFile = 2

[rurouni_stats]
pattern = ^rurouni\\.
retentions = 60s:2d,300s:7d
xFilesFactor = 20.0
aggregationMethod = sum
cacheRetention = 600s

[everything_else]
pattern = .*
retentions = 10s:12h,60s:2d,300s:7d
cacheRetention = 620s
"""


@register(
    "config_parse_storage_schemas",
    """
    SELECT * FROM (VALUES
      ('metric_test', '.*metric_test.*', CAST(2 AS BIGINT), 'average',
       CAST(7200 AS BIGINT), CAST(10 AS BIGINT)),
      ('rurouni_stats', '^rurouni\\.', CAST(2 AS BIGINT), 'sum',
       CAST(604800 AS BIGINT), CAST(600 AS BIGINT)),
      ('everything_else', '.*', CAST(3 AS BIGINT), 'average',
       CAST(604800 AS BIGINT), CAST(620 AS BIGINT))
    ) AS t(name, pattern, n_archives, agg_method, max_retention,
           cache_retention)
    """,
    "M11 — the config system as a driver row: the storage-schemas.conf "
    "INI dialect (ordered sections = match priority, retention strings, "
    "time-string cacheRetention, per-section agg/xff) parsed by the "
    "engine's loader (rurouni/storage.py:116-149 semantics), surfaced "
    "as the schema table",
)
def q_config_parse_storage_schemas(spark, sf_dir):
    from kenshin_spark.config import parse_storage_schemas

    ss = parse_storage_schemas(_CONF_EXAMPLE)
    return spark.createDataFrame(
        [
            (
                s.name,
                s.pattern,
                len(s.archives),
                s.agg_method,
                s.max_retention,
                s.cache_retention,
            )
            for s in ss.schemas
        ],
        "name string, pattern string, n_archives long, agg_method string, "
        "max_retention long, cache_retention long",
    )


@register(
    "hs_import_corrupt_skip",
    # the wide-format .hs replay restricted to the three intact shards
    # (shard 0's file was truncated)
    f"WITH RECURSIVE {_W},\n{_fnv_shard_sql(4)},\n"
    + _HS_ROUNDTRIP_SQL.format(value_expr="value", day1_end=DAY1_END)
    .replace(
        "FROM sharded m JOIN slots sl ON sl.shard = m.shard",
        "FROM (SELECT * FROM sharded WHERE shard <> 0) m "
        "JOIN slots sl ON sl.shard = m.shard",
    ),
    "S6b resilience — skip_corrupt: one of the four exported .hs "
    "bucket files truncated to 40 bytes (a mid-copy crash); the import "
    "with skip_corrupt=True must decode the three intact files and "
    "drop the bad one without failing the job (at migration scale a "
    "single truncated file should cost its own rows, not the run)",
)
def q_hs_import_corrupt_skip(spark, sf_dir):
    from kenshin_spark.sources.kenshin_hs import read_kenshin_points

    out_dir = _export_day1(spark, sf_dir, "hs_import_corrupt_skip")
    victim = os.path.join(out_dir, "bucket_00000.hs")
    with open(victim, "rb") as f:
        head = f.read(40)
    with open(victim, "wb") as f:
        f.write(head)
    return read_kenshin_points(
        spark, os.path.join(out_dir, "*.hs"), skip_corrupt=True
    ).select("metric", "ts", "value")


@register(
    "whisper_headers_inspect",
    f"""
    WITH {_W}
    SELECT metric, 'max' AS agg_method, CAST(86400 AS BIGINT) AS
           max_retention, CAST(0.5 AS DOUBLE) AS xff,
           CAST(1 AS BIGINT) AS archive_count
    FROM (SELECT DISTINCT metric FROM t0 WHERE ts < {DAY1_END})
    """,
    "R9/S6 — whisper header inspect: one row per exported .wsp with the "
    "unpacked metadata (agg id, retention, xff f32, archive count) and "
    "the metric name recovered from the file path exactly as "
    "metric_from_path inverts the export layout",
)
def q_whisper_headers_inspect(spark, sf_dir):
    from kenshin_spark.sources.whisper import (
        export_whisper,
        read_whisper_headers,
    )

    out_dir = os.path.join(
        _workdir(sf_dir, "whisper_headers_inspect"), "wsp"
    )
    day1 = _week_slots(spark, sf_dir).where(F.col("ts") < DAY1_END)
    export_whisper([day1], [(60, 1440)], out_dir, agg_method="max").collect()
    return read_whisper_headers(
        spark, os.path.join(out_dir, "*.wsp"), base=out_dir
    ).select(
        "metric",
        "agg_method",
        F.col("max_retention").cast("long").alias("max_retention"),
        F.col("xff").cast("double").alias("xff"),
        F.col("archive_count").cast("long").alias("archive_count"),
    )


@register(
    "serving_http_fetch",
    f"""
    WITH {_W}, now_t AS (SELECT {CUT} AS now),
    tier AS (SELECT metric, ts, value FROM t0),
    g AS (WITH {_grid_sql("now - 10800", "now", 60)})
    SELECT metric, ts, value FROM g
    """,
    "S3 — the HTTP /fetch endpoint: GET /fetch?metric=...x5&from&until&"
    "now against a store-backed fetch_fn returns the clamped, "
    "tier-selected, NULL-filled JSON grid for the requested metrics — "
    "the thin-API surface SURVEY §3.3 sketches, over a real HTTP "
    "round-trip",
)
def q_serving_http_fetch(spark, sf_dir):
    import json
    from urllib.request import urlopen

    from kenshin_spark.serving import HttpFetchServer

    schema = Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    )
    st = ParquetTieredStore(
        spark, schema,
        os.path.join(_workdir(sf_dir, "serving_http_fetch"), "store"),
    )
    st.upsert(0, _week_slots(spark, sf_dir))

    def fetch_fn(metrics, frm, until, now):
        grid = st.fetch(list(metrics), frm, until, now)
        if grid is None:
            return []
        return [
            (r["metric"], r["ts"], r["value"])
            for r in grid.collect()
        ]

    server = HttpFetchServer(fetch_fn=fetch_fn)
    host, port = server.start()
    try:
        ms = "&".join(
            f"metric={m}" for m in ("click", "error", "purchase",
                                    "signup", "view")
        )
        url = (
            f"http://{host}:{port}/fetch?{ms}"
            f"&from={CUT - 10800}&until={CUT}&now={CUT}"
        )
        with urlopen(url) as resp:
            body = json.loads(resp.read())
    finally:
        server.stop()
    return spark.createDataFrame(
        [(m, int(ts), None if v is None else float(v))
         for m, ts, v in body["rows"]],
        "metric string, ts long, value double",
    )


@register(
    "ingest_replay_idempotent",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "exactly-once under at-least-once delivery: the SAME week batch "
    "pushed through process_batch twice (a retried micro-batch after a "
    "lost ack — the streaming failure mode); the LWW align keys by "
    "(metric, slot, arrival) so the replay upsert resolves to the "
    "identical tier content, not doubled rows — the store reads back "
    "the one-pass grid bit-for-bit",
)
def q_ingest_replay_idempotent(spark, sf_dir):
    from kenshin_spark.config import Schema, SchemaSet
    from kenshin_spark.streaming.ingest import StreamingIngest

    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, _workdir(sf_dir, "ingest_replay_idem"),
        clock=lambda: float(CUT),
    )
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    pts = pts.localCheckpoint(eager=True)  # scanned by both deliveries
    ing.process_batch(pts, 0)
    ing.process_batch(pts, 1)  # the redelivery
    return ing.store_for(schemas.schemas[0]).read(0)


@register(
    "ingest_batch_split_merge",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "micro-batch associativity: the week split into two batches at an "
    "arrival watermark (every arrival in batch 2 is newer than batch 1 "
    "— exactly how a real stream micro-batches) and ingested "
    "separately; cross-batch slot conflicts resolve last-batch-wins, "
    "which under arrival-ordered batching IS max-arrival-wins, so the "
    "two-batch store converges to the one-pass LWW grid bit-for-bit — "
    "the property that makes backfill and live ingestion "
    "interchangeable",
)
def q_ingest_batch_split_merge(spark, sf_dir):
    from kenshin_spark.config import Schema, SchemaSet
    from kenshin_spark.streaming.ingest import StreamingIngest

    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, _workdir(sf_dir, "ingest_split_merge"),
        clock=lambda: float(CUT),
    )
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    pts = pts.localCheckpoint(eager=True)
    mid = pts.agg(
        ((F.min("arrival") + F.max("arrival")) / 2).cast("long")
    ).collect()[0][0]
    ing.process_batch(pts.where(F.col("arrival") <= mid), 0)
    ing.process_batch(pts.where(F.col("arrival") > mid), 1)
    return ing.store_for(schemas.schemas[0]).read(0)


@register(
    "ingest_self_metrics",
    f"""
    WITH {_W}
    SELECT 'rurouni.metrics_received' AS metric,
           CAST({CUT} AS BIGINT) AS ts,
           CAST(count(*) AS DOUBLE) AS value FROM ptsw
    UNION ALL
    SELECT 'rurouni.committed_points', {CUT},
           CAST(count(*) AS DOUBLE) FROM t0
    UNION ALL
    SELECT 'rurouni.creates', {CUT},
           CAST(count(DISTINCT metric) AS DOUBLE) FROM ptsw
    UNION ALL SELECT 'rurouni.dropped_creates', {CUT}, 0.0
    UNION ALL SELECT 'rurouni.corrupt_lines', {CUT}, 0.0
    UNION ALL SELECT 'rurouni.update_operations', {CUT}, 1.0
    """,
    "S8 — the instrumentation counter set as self-metric points "
    "(rurouni/state/instrumentation.py:24-38 mirrored names): after one "
    "week batch, metrics_received = raw points, committed_points = "
    "aligned LWW slots, creates = new catalog entries, zero dropped/"
    "corrupt, one update operation — IngestStats.as_points emits them "
    "as rurouni.* points ready to feed back into the store, and every "
    "counter is independently recomputed by the oracle",
)
def q_ingest_self_metrics(spark, sf_dir):
    from kenshin_spark.config import Schema, SchemaSet
    from kenshin_spark.streaming.ingest import StreamingIngest

    schemas = SchemaSet((Schema.from_strings(
        "bank", ".*", "60s:90d", xff=20.0, agg_method="max",
        cache_retention=600,
    ),))
    ing = StreamingIngest(
        spark, schemas, _workdir(sf_dir, "ingest_self_metrics"),
        clock=lambda: float(CUT),
    )
    ing.process_batch(_points(spark, sf_dir).where(F.col("ts") < CUT), 0)
    return spark.createDataFrame(
        ing.stats.as_points(CUT), "metric string, ts long, value double"
    )


@register(
    "store_delete_then_compact",
    f"""
    WITH {_W}
    SELECT metric, ts, value FROM t0 WHERE metric <> 'click'
    """,
    "maintenance composition: metric delete (tier rewrite in one "
    "manifest commit) followed by full compaction (one file per day "
    "partition) — the two maintenance passes must compose without "
    "resurrecting deleted rows (the files the delete retired must not "
    "leak back into the compaction's read) and survivors stay "
    "bit-identical",
)
def q_store_delete_then_compact(spark, sf_dir):
    st = _store(spark, sf_dir, "store_delete_then_compact")
    st.upsert(0, _week_slots(spark, sf_dir))
    st.delete_metrics(["click"])
    st.compact(0)
    return st.read(0)


@register(
    "store_glob_group_rollup",
    f"""
    SELECT 'maxSeries' AS metric, ts, max(value) AS value FROM (
      WITH {_W}, now_t AS (SELECT {CUT} AS now),
      tier AS (SELECT metric, ts, value FROM t0),
      {_grid_sql("now - 86400", "now", 60)}
    ) sub GROUP BY ts
    """,
    "the serving-side rollup over a persisted store: fetch_glob('*') "
    "resolves the namespace from tier0 (no catalog), grids the last "
    "day NULL-filled, and maxSeries folds the five series into the "
    "per-slot envelope (exact comparisons — the NULL-ignoring, "
    "all-NULL-stays-NULL semantics both engines share); glob resolve, "
    "grid fill and rollup all replay",
)
def q_store_glob_group_rollup(spark, sf_dir):
    from kenshin_spark.functions.render import max_series

    st = _store(spark, sf_dir, "store_glob_rollup")
    st.upsert(0, _week_slots(spark, sf_dir))
    grid = st.fetch_glob("*", CUT - 86400, CUT, CUT)
    return max_series(grid)


@register(
    "store_fetch_keep_last",
    f"""
    SELECT metric, ts,
           CASE WHEN value IS NOT NULL THEN value
                WHEN ts - last_ts <= 180 THEN lastv END AS value
    FROM (
      SELECT metric, ts, value,
             max(CASE WHEN value IS NOT NULL THEN ts END) OVER w AS last_ts,
             last_value(value IGNORE NULLS) OVER w AS lastv
      FROM (
        WITH {_W}, now_t AS (SELECT {CUT} AS now),
        tier AS (SELECT metric, ts, value FROM t0),
        {_grid_sql("now - 86400", "now", 60)}
      ) g
      WINDOW w AS (PARTITION BY metric ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ) x
    """,
    "graphite keepLastValue(series, 3) over the persisted store's "
    "NULL-filled fetch grid: empty minutes forward-fill from the last "
    "real sample but only across gaps of <= 3 slots (the dashboard "
    "gap-smoothing rule that must NOT bridge real outages); the "
    "oracle replays the grid fill and the bounded forward-fill with "
    "an IGNORE NULLS window",
)
def q_store_fetch_keep_last(spark, sf_dir):
    from kenshin_spark.functions.render import keep_last_value

    st = _store(spark, sf_dir, "store_fetch_keep_last")
    st.upsert(0, _week_slots(spark, sf_dir))
    grid = st.fetch(_METRICS5, CUT - 86400, CUT, CUT)
    return keep_last_value(grid, limit=3)


@register(
    "store_fetch_splice_consistency",
    f"""
    WITH {_W}, now_t AS (SELECT {CUT} AS now),
    tier AS (SELECT metric, ts, value FROM t0),
    {_grid_sql("now - 172800", "now", 60)}
    """,
    "fetch splice invariance: two adjacent one-day fetches "
    "(now-2d..now-1d and now-1d..now) concatenated must equal the one "
    "two-day fetch — the grid roundup arithmetic leaves no overlap "
    "and no gap at the seam (the pagination contract a dashboard's "
    "panel-by-panel loading relies on); the oracle computes the "
    "single-request form",
)
def q_store_fetch_splice_consistency(spark, sf_dir):
    st = _store(spark, sf_dir, "store_fetch_splice")
    st.upsert(0, _week_slots(spark, sf_dir))
    a = st.fetch(_METRICS5, CUT - 172800, CUT - 86400, CUT)
    b = st.fetch(_METRICS5, CUT - 86400, CUT, CUT)
    return a.unionByName(b)


@register(
    "store_upsert_point_patch",
    f"""
    WITH {_W}
    SELECT metric, ts,
           CASE WHEN metric = 'click' AND ts = {CUT - 3600}
                THEN 999.5 ELSE value END AS value
    FROM t0
    UNION ALL
    SELECT 'click', {CUT - 3600}, 999.5
    WHERE NOT EXISTS (
      SELECT 1 FROM t0 WHERE metric = 'click' AND ts = {CUT - 3600}
    )
    """,
    "single-point correction: after the week's load, one (metric, "
    "slot) is patched by a one-row upsert — the GDPR-style/bad-sensor "
    "fix — and the read must show the patch whether the slot existed "
    "before or not, with every other slot untouched (the "
    "partition-bounded rewrite touches exactly one day); the oracle "
    "models both the overwrite and the insert case",
)
def q_store_upsert_point_patch(spark, sf_dir):
    st = _store(spark, sf_dir, "store_point_patch")
    st.upsert(0, _week_slots(spark, sf_dir))
    patch = st.spark.createDataFrame(
        [("click", CUT - 3600, 999.5)], "metric string, ts long, value double"
    )
    st.upsert(0, patch)
    return st.read(0)


@register(
    "store_day_partition_profile",
    f"""
    WITH {_W}
    SELECT metric, CAST(ts // 86400 AS BIGINT) AS day,
           count(*) AS n_slots,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM t0 GROUP BY 1, 2
    """,
    "day-partition profile through the store read path: per "
    "(metric, day) slot counts and timestamp envelopes after the "
    "week's upsert — the physical-layout statistic (rows per day "
    "partition) that drives compaction and maxPartitionBytes choices, "
    "read back from the persisted tier",
)
def q_store_day_partition_profile(spark, sf_dir):
    st = _store(spark, sf_dir, "store_day_profile")
    st.upsert(0, _week_slots(spark, sf_dir))
    t = st.read(0)
    return t.groupBy(
        "metric", (F.col("ts") / 86400).cast("long").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_slots"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "store_manifest_snapshot_lifecycle",
    f"WITH {_W} SELECT metric, ts, value FROM t0 "
    f"WHERE ts >= {DAY1_END}",
    (
        "the manifest-log commit backend's full lifecycle as a "
        "driver row (VERDICT r9 next-round #2): mor upserts in two "
        "stamped appends, a two-day log fold committed as one "
        "manifest transaction, LOGICAL retention expiry of day 0 "
        "(a manifest drop — files persist for readers mid-scan), "
        "then vacuum physically reclaims every retired file; the "
        "read back — planned from the committed file list, never a "
        "directory listing — must equal the week's LWW grid minus "
        "the expired day (kenshin_spark/commit.py "
        "ManifestCommitProtocol, store.py ParquetTieredStore)"
    ),
)
def q_store_manifest_snapshot_lifecycle(spark, sf_dir):
    import os
    import time

    from kenshin_spark.store import ParquetTieredStore

    st = ParquetTieredStore(
        spark,
        _BANK,
        os.path.join(
            _workdir(sf_dir, "store_manifest_snapshot_lifecycle"), "store"
        ),
    )
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    # fold the first two day partitions' append logs (logical replace —
    # the superseded files stay on disk until vacuum)
    st.compact(0, days=st._live_days(0)[:2])
    # logical expiry of day 0 (Jan 1): one manifest transaction, no
    # physical delete; then vacuum reclaims every retired file
    st.expire(now=DAY1_END + 90 * 86400)
    st.vacuum(grace_s=0.0, now=time.time() + 60)
    return st.read(0)
