"""Round-8 engine-path rows: driver-oracled queries over the engine
surfaces that previously had only pytest coverage — the tiered store's
write/read/compact/expire/propagate/CDC paths, schema change, the .hs
export/import loop, ingest admission, and the maintenance family
(VERDICT r5 next-round item 2: "make the round-8 window exercise the
engine surfaces that today have NO driver row").

Every row drives REAL ``kenshin_spark`` code (ParquetTieredStore &
friends) against a scratch store built from the ``events`` table, and
returns a deterministic DataFrame whose DuckDB oracle replays the
result from the same parquet inputs. Store content is the canonical
60 s last-write-wins point grid (the LWW60 fragment every ts_* row
uses); aggregation tiers use ``max`` so cross-engine float identity is
exact (no accumulation-order sensitivity anywhere in the bank).

Scratch stores live under the system temp dir, one directory per
(scale-factor, row) pair, wiped at the start of every invocation so
repeated runs (the driver runs each fn twice: once for the plan sweep,
once for the result) are idempotent.

Merged into ``STAGED_R8`` by ``queries_staged_r8`` — same staging gate
(``tests/test_queries_staged_r8.py``), promoted as one bank.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from kenshin_spark.config import Schema, SchemaSet
from kenshin_spark.operators.align import last_write_wins
from kenshin_spark.queries import PTS, NOW_T, QuerySpec, _points
from kenshin_spark.session import pin
from kenshin_spark.store import ParquetTieredStore

ENGINE_ROWS: dict[str, QuerySpec] = {}


def stage(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        ENGINE_ROWS[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


#: 2024-01-08 UTC — the one-week event window most store rows ingest
#: (bounds the scratch store at 7 day partitions at every scale factor)
CUT = 1704672000
#: 2024-01-01 / 2024-01-02 UTC — the single-day window
DAY1_START = 1704067200
DAY1_END = 1704153600

#: shared oracle prefix: raw points, the week window, and its 60 s LWW
#: grid (t0 = exactly what the store rows upsert)
_W = f"""pts AS ({PTS}),
    ptsw AS (SELECT * FROM pts WHERE ts < {CUT}),
    t0 AS (SELECT metric, ts - ts % 60 AS ts,
                  arg_max(value, arrival) AS value
           FROM ptsw GROUP BY 1, 2)"""

#: all-tiers-daily schema, max agg (bit-exact across engines)
_BANK = Schema.from_strings(
    "bank", ".*", "60s:90d,300s:180d,3600s:366d", xff=20.0, agg_method="max",
    cache_retention=600,
)


def _workdir(sf_dir: str, name: str) -> str:
    base = os.path.join(
        tempfile.gettempdir(),
        "kenshin_spark_r8_rows",
        os.path.basename(os.path.normpath(sf_dir)),
        name,
    )
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    return base


def _week_slots(spark, sf_dir):
    """The week's 60 s LWW grid — the store rows' canonical content."""
    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    return last_write_wins(pts, 60, arrival_col="arrival")


def _store(spark, sf_dir, name, schema=_BANK, mode="cow"):
    return ParquetTieredStore(
        spark, schema, os.path.join(_workdir(sf_dir, name), "store"),
        mode=mode,
    )


# ---------------------------------------------------------------------------
# upsert / read round-trips (S4, W6)
# ---------------------------------------------------------------------------


@stage(
    "store_cow_upsert_roundtrip",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "S4/W6 — COW upsert round-trip: the week's 60s LWW grid split into "
    "even/odd-minute batches, upserted into tier0 in two merges "
    "(partition-bounded read-merge-rewrite, store.py upsert), read back "
    "via the tier read path; the merge must reassemble exactly the "
    "one-pass LWW grid",
)
def q_store_cow_upsert_roundtrip(spark, sf_dir):
    st = _store(spark, sf_dir, "store_cow_upsert_roundtrip")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    return st.read(0)


@stage(
    "store_cow_lww_overwrite",
    f"""
    WITH {_W}
    SELECT metric, ts,
           CASE WHEN metric = 'click' THEN value + 1.0 ELSE value END AS value
    FROM t0
    """,
    "W6 — the ring overwrite semantics on the COW path: a second upsert "
    "re-writes every 'click' slot with value+1; the batch must win "
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


@stage(
    "store_mor_append_resolve",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "S4 (mor) — merge-on-read: the same two-batch upsert lands as "
    "O(batch) appends stamped with CAS-allocated sequence numbers, and "
    "the read path's resolve aggregation collapses the log to the "
    "winning row per slot — same result as the COW merge, write cost "
    "shape of the reference's ring write (kenshin/storage.py:499-503)",
)
def q_store_mor_append_resolve(spark, sf_dir):
    st = _store(spark, sf_dir, "store_mor_append_resolve", mode="mor")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    return st.read(0)


@stage(
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
    st = _store(spark, sf_dir, "store_mor_null_overwrite", mode="mor")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots)
    st.upsert(
        0,
        slots.where(F.col("metric") == "click").withColumn(
            "value", F.lit(None).cast("double")
        ),
    )
    return st.read(0)


@stage(
    "store_mor_compact_invariance",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "M8 — full-tier compaction folds the mor append log to one row per "
    "slot (stamp 0) under the .bak swap protocol; the read after "
    "compact must be byte-identical to the resolved log before it "
    "(read invariance — compaction is pure IO-shape maintenance)",
)
def q_store_mor_compact_invariance(spark, sf_dir):
    st = _store(spark, sf_dir, "store_mor_compact_invariance", mode="mor")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    st.compact(0)
    return st.read(0)


@stage(
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
    "file_report/needs_compaction/_compact_day — the maintenance pass a "
    "COW/MOR parquet store needs where the reference's preallocated .hs "
    "files can't fragment, README.md:63-71)",
)
def q_store_compact_day_targeted(spark, sf_dir):
    st = _store(spark, sf_dir, "store_compact_day_targeted", mode="mor")
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


@stage(
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
    st = _store(spark, sf_dir, "store_upsert_bounded_rewrite", mode="mor")
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


# ---------------------------------------------------------------------------
# retention / range reads (O4, R1)
# ---------------------------------------------------------------------------


@stage(
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


@stage(
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


@stage(
    "store_hot_tier_hourly_units",
    f"""
    WITH {_W}
    SELECT DISTINCT CAST(floor(ts / 3600) AS BIGINT) AS day
    FROM t0 WHERE ts < {DAY1_END}
    """,
    "S4 — hot-tier partition granularity: a tier whose whole retention "
    "is <= 2 days partitions HOURLY (store.py part_unit), so a "
    "micro-batch upsert rewrites ~an hour of data, not a whole day — "
    "the closest COW analog of the reference's O(1) ring write; the "
    "row reads the physical partition column back (day = ts//3600 for "
    "hot tiers)",
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


# ---------------------------------------------------------------------------
# fetch through the store (R1-R3 over persisted tiers)
# ---------------------------------------------------------------------------

#: DuckDB grid fragment: metrics x [roundup(f), roundup(u)) @ step,
#: left-joined against a tier CTE named `tier` — mirror of grid_fill
def _grid_sql(f_expr: str, u_expr: str, step: int,
              metrics_sql: str = "SELECT DISTINCT event_type AS metric "
                                 "FROM events") -> str:
    up = "CAST(floor(({x} + " + str(step - 1) + f") / {step}) AS BIGINT) * {step}"
    f_r, u_r = up.format(x=f_expr), up.format(x=u_expr)
    return f"""
    grid AS (
      SELECT m.metric, g.ts
      FROM ({metrics_sql}) m
      CROSS JOIN (
        SELECT unnest(generate_series({f_r}, {u_r} - {step}, {step})) AS ts
        FROM now_t
      ) g
    )
    SELECT grid.metric, grid.ts, tier.value
    FROM grid LEFT JOIN tier ON tier.metric = grid.metric
                            AND tier.ts = grid.ts"""


_METRICS5 = ["click", "error", "purchase", "signup", "view"]


@stage(
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


@stage(
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


@stage(
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


@stage(
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
    "append batches and a full-tier compaction (day directories swapped "
    "under the .bak protocol), the clamp/select/prune/grid-fill read "
    "path must see exactly the resolved grid — partition discovery is "
    "intact across the swap and the folded log resolves identically",
)
def q_store_fetch_after_compact(spark, sf_dir):
    from pyspark.sql import Observation

    st = _store(spark, sf_dir, "store_fetch_after_compact", mode="mor")
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


# ---------------------------------------------------------------------------
# propagation + CDC (W7 through the store; mor snapshots)
# ---------------------------------------------------------------------------


@stage(
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


@stage(
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

    st = _store(spark, sf_dir, "store_propagate_from_seq_cdc", mode="mor")
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


@stage(
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
    st = _store(spark, sf_dir, "store_changed_between_cdc", mode="mor")
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


@stage(
    "store_read_at_snapshot",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "snapshot read over the mor log: read(version=seq1) plans from the "
    "file list committed at the pinned manifest seq, so a pipeline that "
    "pinned commit.epoch() sees the store exactly as it stood — the "
    "later click-overwrite batch (seq2) must be invisible",
)
def q_store_read_at_snapshot(spark, sf_dir):
    st = _store(spark, sf_dir, "store_read_at_snapshot", mode="mor")
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


# ---------------------------------------------------------------------------
# delete / backup / recover / overwrite (M5, maintenance)
# ---------------------------------------------------------------------------


@stage(
    "store_delete_metrics",
    f"""
    WITH {_W}
    SELECT metric, ts, value FROM t0
    WHERE metric NOT IN ('click', 'error')
    """,
    "M5 — metric delete: remove two metrics' rows from every tier "
    "(bin/kenshin-delete.py:39-96 blanks header slots; real tables "
    "remove the rows) via the tier rewrite + .bak swap; survivors are "
    "untouched",
)
def q_store_delete_metrics(spark, sf_dir):
    st = _store(spark, sf_dir, "store_delete_metrics")
    st.upsert(0, _week_slots(spark, sf_dir))
    st.delete_metrics(["click", "error"])
    return st.read(0)


@stage(
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


@stage(
    "store_recover_crash_swap",
    f"WITH {_W} SELECT metric, ts, value FROM t0",
    "crash recovery: a compaction/delete swap that died between stage "
    "and promote leaves the live tier missing and its .bak present; "
    "recover() restores the .bak (the reference's change-schema .bak "
    "dance, bin/kenshin-change-schema.py:103-112) and the read is whole "
    "again",
)
def q_store_recover_crash_swap(spark, sf_dir):
    st = _store(spark, sf_dir, "store_recover_crash_swap")
    st.upsert(0, _week_slots(spark, sf_dir))
    p = st.tier_path(0)
    # simulate the crash window: live dir staged away, promote never ran
    assert st.fs.rename(p, p + ".bak")
    st.recover()
    return st.read(0)


@stage(
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


# ---------------------------------------------------------------------------
# fetch grid NULL-fill; schema change (M6); .hs export/import (S6b)
# ---------------------------------------------------------------------------


@stage(
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


@stage(
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


@stage(
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


@stage(
    "hs_export_import_roundtrip",
    None,  # bound after _fnv_shard_sql is defined below

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


@stage(
    "hs_null_sentinel_roundtrip",
    None,  # bound after _fnv_shard_sql is defined below

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


@stage(
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


# ---------------------------------------------------------------------------
# admission (P4), keep-alive (M9), GC (M8), catalog routing (P5)
# ---------------------------------------------------------------------------


@stage(
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


@stage(
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


@stage(
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


@stage(
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
    from kenshin_spark.queries import ROUTING_SCHEMAS

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


@stage(
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
    st = _store(spark, sf_dir, "store_mor_seq_stamps", mode="mor")
    slots = _week_slots(spark, sf_dir).localCheckpoint(eager=True)
    st.upsert(0, slots.where(F.col("ts") % 120 == 0))
    st.upsert(0, slots.where(F.col("ts") % 120 == 60))
    st.upsert(0, slots.where(F.col("metric") == "click"))
    return (
        spark.read.parquet(st.tier_path(0))
        .groupBy(F.col("_seq").cast("long").alias("seq"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# BPE vocabulary (bounded collect), token-bucket replay (P4 semantics)
# ---------------------------------------------------------------------------


@stage(
    "bpe_vocab_topk",
    r"""
    SELECT word, freq FROM (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        FROM documents
      ) WHERE word <> ''
      GROUP BY word HAVING count(*) >= 2
    )
    ORDER BY freq DESC, word ASC LIMIT 100
    """,
    "the BPE trainer's bounded vocabulary scan (the r4->r5 scale fix): "
    "word frequencies with the JVM-side HAVING (min_count=2) and the "
    "deterministic top-K cap (max_words=100, freq desc then word asc — "
    "TakeOrderedAndProject, never an unbounded collect); the driver row "
    "pins exactly what reaches the trainer at any corpus size",
)
def q_bpe_vocab_topk(spark, sf_dir):
    from kenshin_spark.bpe import word_frequencies
    from kenshin_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    return word_frequencies(docs, min_count=2, max_words=100)


@stage(
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


# bind the .hs round-trip oracles (they need _fnv_shard_sql, defined
# after their @stage declarations): the replay computes each file's
# metric group via the recursive fnv1a CTE, then emits the wide-format
# grid — every member metric at every populated ring slot
for _n, _vexpr in (
    ("hs_export_import_roundtrip", "value"),
    (
        "hs_null_sentinel_roundtrip",
        "CASE WHEN metric = 'click' THEN NULL ELSE value END",
    ),
):
    _spec = ENGINE_ROWS[_n]
    ENGINE_ROWS[_n] = QuerySpec(
        fn=_spec.fn,
        oracle=(
            f"WITH RECURSIVE {_W},\n{_fnv_shard_sql(4)},\n"
            + _HS_ROUNDTRIP_SQL.format(value_expr=_vexpr, day1_end=DAY1_END)
        ),
        doc=_spec.doc,
    )
del _n, _vexpr, _spec
