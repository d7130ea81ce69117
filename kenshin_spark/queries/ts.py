"""Time-series engine rows (``ts_``, ``lp_``; SURVEY §2.2-2.6): ingest as
points, last-write-wins alignment, the downsample cascade, tier
selection, ``fetch`` grids, retention, routing, tags, the line protocol,
and per-series diagnostics over the aligned grid.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kenshin_spark.config import propagation_timeunit
from kenshin_spark.functions.hashing import shard_of
from kenshin_spark.io import load_table
from kenshin_spark.operators.align import last_write_wins
from kenshin_spark.operators.downsample import (
    downsample,
    ready_propagation_slots,
)
from kenshin_spark.operators.fetch import grid_fill, select_archive
from kenshin_spark.operators.maintenance import (
    index_rebuild,
    metric_delete,
    metric_search,
)
from kenshin_spark.operators.merge import merge_series
from kenshin_spark.queries._common import (
    CUT,
    LWW3600,
    LWW60,
    NOW_T,
    PTS,
    ROUTING_SCHEMAS,
    TS_SCHEMA,
    _grid3600,
    _grid60,
    _now,
    _points,
    _sql_query,
    _t0,
    register,
)
from kenshin_spark.queries._common import QUERIES as _REG
from kenshin_spark.sources.line_protocol import parse_metric_lines


@register(
    "ts_align_lww",
    f"WITH pts AS ({PTS}) {LWW60}",
    "W5 — align ts to 60s slots, last-write-wins by arrival "
    "(kenshin/storage.py:427-445, rurouni/cache.py:264-280)",
)
def q_ts_align_lww(spark, sf_dir):
    return last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")


@register(
    "ts_tag_filter",
    f"""
    WITH pts AS (
      SELECT event_type || ';shard=' || CAST(user_id % 4 AS VARCHAR)
               AS metric,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts,
             value, event_id AS arrival
      FROM events
    )
    SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
    FROM pts
    WHERE regexp_extract(metric, ';shard=([^;]*)', 1) = '2'
    GROUP BY 1, 2
    """,
    "key/value series tags (SURVEY §1.1; Graphite 1.1 tagged-series "
    "syntax, reference series names tests/test_storage.py:42-45): the "
    "full tagged string is the series identity; tags project out as a "
    "MAP<STRING,STRING> via str_to_map (pure JVM) and the tag filter "
    "prunes the metric set BEFORE the LWW align",
)
def q_ts_tag_filter(spark, sf_dir):
    from kenshin_spark.functions.tags import metrics_matching_tags

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.concat(
            F.col("event_type"),
            F.lit(";shard="),
            (F.col("user_id") % 4).cast("string"),
        ).alias("metric"),
        F.unix_timestamp("ts").cast("long").alias("ts"),
        "value",
        F.col("event_id").alias("arrival"),
    )
    # catalog-style lookup: tag match selects the series set, then the
    # (broadcastable) set prunes the point stream before aggregation
    wanted = metrics_matching_tags(
        pts.select("metric").distinct(), {"shard": "2"}
    )
    return last_write_wins(
        pts.join(F.broadcast(wanted), "metric"), 60, arrival_col="arrival"
    )


@register(
    "ts_tag_catalog",
    """
    WITH m AS (
      SELECT DISTINCT event_type || ';env='
             || CASE WHEN user_id % 2 = 0 THEN 'prod' ELSE 'dev' END
             || ';shard=' || CAST(user_id % 4 AS VARCHAR) AS metric
      FROM events
    ),
    kv AS (
      SELECT metric, 'env' AS tag_key,
             regexp_extract(metric, ';env=([^;]*)', 1) AS tag_value FROM m
      UNION ALL
      SELECT metric, 'shard',
             regexp_extract(metric, ';shard=([^;]*)', 1) FROM m
    )
    SELECT tag_key, tag_value, count(*) AS n_series
    FROM kv GROUP BY 1, 2
    """,
    "tag catalog (the Graphite /tags autocomplete API): every tag key/"
    "value with its series count, from exploding the str_to_map tag "
    "projection over the distinct series set — catalog-sized input, not "
    "the point stream",
)
def q_ts_tag_catalog(spark, sf_dir):
    from kenshin_spark.functions.tags import series_tags

    ev = load_table(spark, sf_dir, "events")
    metrics = ev.select(
        F.concat(
            F.col("event_type"),
            F.lit(";env="),
            F.when(F.col("user_id") % 2 == 0, "prod").otherwise("dev"),
            F.lit(";shard="),
            (F.col("user_id") % 4).cast("string"),
        ).alias("metric")
    ).distinct()
    return (
        metrics.select(
            F.explode(series_tags("metric")).alias("tag_key", "tag_value")
        )
        .groupBy("tag_key", "tag_value")
        .agg(F.count("*").alias("n_series"))
    )


@register(
    "ts_agg_kernel",
    f"""
    WITH pts AS ({PTS})
    SELECT metric, ts - ts % 300 AS ts,
           round(avg(value), 6) AS avg_value,
           round(sum(value), 6) AS sum_value,
           arg_max(value,
                   CASE WHEN value IS NOT NULL
                        THEN ts * 1000000 + arrival END) AS last_value,
           max(value) AS max_value,
           min(value) AS min_value,
           count(value) AS n_points
    FROM pts GROUP BY 1, 2
    """,
    "W9/A1-A5 — the complete aggregation kernel (kenshin/agg.py:9-36) over "
    "300s windows; NULL-ignoring semantics are Spark/DuckDB built-ins",
)
def q_ts_agg_kernel(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return (
        pts.groupBy("metric", (F.col("ts") - F.col("ts") % 300).alias("ts"))
        .agg(
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.expr(
                "max_by(value, CASE WHEN value IS NOT NULL"
                " THEN ts * 1000000 + arrival END)"
            ).alias("last_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count("value").alias("n_points"),
        )
    )


@register(
    "ts_downsample_tier1",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts - ts % 300 AS ts, round(avg(value), 6) AS value
    FROM t0 GROUP BY 1, 2
    """,
    "W7 — write-time downsample: tier1(300s avg) over tier0(60s LWW), the "
    "propagation chain of kenshin/storage.py:482-586",
)
def q_ts_downsample_tier1(spark, sf_dir):
    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return downsample(t0, 300, "average").withColumn("value", F.round("value", 6))


@register(
    "ts_downsample_cascade",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    t1 AS (
      SELECT metric, ts - ts % 300 AS ts, avg(value) AS value
      FROM t0 GROUP BY 1, 2
    )
    SELECT metric, ts - ts % 3600 AS ts, round(avg(value), 6) AS value
    FROM t1 GROUP BY 1, 2
    """,
    "W7 cascade — tier2(1h) aggregates tier1's *points* (avg of avgs), "
    "exactly like the reference propagates archive→archive",
)
def q_ts_downsample_cascade(spark, sf_dir):
    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    t1 = downsample(t0, 300, "average")
    return downsample(t1, 3600, "average").withColumn("value", F.round("value", 6))


@register(
    "ts_asof_join",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    t1 AS (
      SELECT metric, ts - ts % 300 AS ts, round(avg(value), 6) AS value
      FROM t0 GROUP BY 1, 2
    ),
    l AS (SELECT metric, ts, value FROM pts),
    j AS (
      SELECT l.metric, l.ts, l.value, r.ts AS rts, r.value AS rvalue
      FROM l ASOF LEFT JOIN t1 r
        ON l.metric = r.metric AND l.ts >= r.ts
    )
    SELECT metric, ts, value,
           CASE WHEN ts - rts <= 900 THEN rts END AS ts_right,
           CASE WHEN ts - rts <= 900 THEN rvalue END AS value_right
    FROM j
    """,
    "As-of join: every raw point annotated with the most recent tier-1 "
    "(300s) rollup at-or-before it, tolerance 900s — union-tag + window "
    "carry-forward (ONE shuffle, no range-join explosion); the oracle is "
    "DuckDB's native ASOF LEFT JOIN",
)
def q_ts_asof_join(spark, sf_dir):
    from kenshin_spark.operators.asof import asof_join

    pts = _points(spark, sf_dir).select("metric", "ts", "value")
    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    t1 = downsample(t0, 300, "average").withColumn("value", F.round("value", 6))
    return asof_join(pts, t1, tolerance=900)


@register(
    "ts_fetch_grid",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    bounds AS (
      SELECT ((now - 21600 + 299) // 300) * 300 AS from_r,
             ((now + 299) // 300) * 300 AS until_r
      FROM now_t
    ),
    tier1 AS (
      SELECT metric, ts - ts % 300 AS ts, round(avg(value), 6) AS value
      FROM pts GROUP BY 1, 2
    ),
    grid AS (
      SELECT m.metric,
             unnest(generate_series(b.from_r, b.until_r - 300, 300)) AS ts
      FROM (SELECT DISTINCT metric FROM pts) m, bounds b
    )
    SELECT g.metric, g.ts, t.value
    FROM grid g LEFT JOIN tier1 t ON g.metric = t.metric AND g.ts = t.ts
    """,
    "R3 — regular-grid materialization with NULL fill "
    "(kenshin/storage.py:646-694): last 6h on the 300s grid",
)
def q_ts_fetch_grid(spark, sf_dir):
    pts = _points(spark, sf_dir)
    now = _now(pts)
    tier1 = downsample(pts, 300, "average").withColumn("value", F.round("value", 6))
    metrics = pts.select("metric").distinct()
    return grid_fill(tier1, metrics, now - 21600, now, 300)


@register(
    "ts_tier_selection",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    t0 AS ({LWW60}),
    t1 AS (
      SELECT metric, ts - ts % 300 AS ts, avg(value) AS value
      FROM t0 GROUP BY 1, 2
    )
    SELECT metric, ts, round(value, 6) AS value, CAST(300 AS BIGINT) AS step
    FROM t1, now_t
    WHERE ts >= now - 259200 AND ts <= now
    """,
    "R2 — archive selection by query *age* (kenshin/storage.py:639-642): a "
    "3-day-old from_time selects the 300s tier on this policy",
)
def q_ts_tier_selection(spark, sf_dir):
    pts = _points(spark, sf_dir)
    now = _now(pts)
    age = 259200  # 3 days → planner must choose tier1 (300s, 7d retention)
    idx = select_archive(list(TS_SCHEMA.archives), now - age, now)
    assert idx == 1, "planner should pick tier1 for a 3-day query age"
    step = TS_SCHEMA.archives[idx].sec_per_point
    t0 = last_write_wins(pts, 60, arrival_col="arrival")
    t1 = downsample(t0, step, "average")
    return (
        t1.where((F.col("ts") >= now - age) & (F.col("ts") <= now))
        .select(
            "metric", "ts", F.round("value", 6).alias("value"),
            F.lit(step).cast("long").alias("step"),
        )
    )


@register(
    "ts_retention_expiry",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}), t0 AS ({LWW60})
    SELECT metric, count(*) AS n_live, min(ts) AS min_ts, max(ts) AS max_ts
    FROM t0, now_t
    WHERE t0.ts >= now_t.now - 86400 AND t0.ts <= now_t.now
    GROUP BY metric
    """,
    "O4 — retention expiry: tier0 keeps 1 day; at scale this is a "
    "partition drop, here the surviving-rows predicate",
)
def q_ts_retention_expiry(spark, sf_dir):
    from kenshin_spark.operators.retention import apply_retention

    pts = _points(spark, sf_dir)
    now = _now(pts)
    t0 = last_write_wins(pts, 60, arrival_col="arrival")
    live = apply_retention(t0, TS_SCHEMA.archives[0], now)
    return live.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


@register(
    "ts_schema_match",
    f"""
    WITH m AS (SELECT DISTINCT event_type AS metric FROM events)
    SELECT metric, {ROUTING_SCHEMAS.match_sql_case('metric', 'regexp_matches')}
           AS schema_name
    FROM m
    """,
    "P5 — first-regex-wins retention-policy routing "
    "(rurouni/storage.py:196-210), rendered as a JVM-side CASE chain",
)
def q_ts_schema_match(spark, sf_dir):
    metrics = _points(spark, sf_dir).select("metric").distinct()
    return metrics.withColumn(
        "schema_name",
        F.expr(ROUTING_SCHEMAS.match_sql_case("metric", "regexp_like")),
    )


@register(
    "ts_index_rebuild",
    f"""
    WITH pts AS ({PTS})
    SELECT metric, count(value) AS point_count, min(ts) AS min_ts,
           max(ts) AS max_ts,
           {ROUTING_SCHEMAS.match_sql_case('metric', 'regexp_matches')}
           AS schema_name
    FROM pts GROUP BY metric
    """,
    "M1/R9 — rebuild the metrics dim table from the points table "
    "(rurouni/storage.py:56-77, bin/kenshin-info.py)",
)
def q_ts_index_rebuild(spark, sf_dir):
    return index_rebuild(_points(spark, sf_dir), ROUTING_SCHEMAS)


@register(
    "ts_metric_search",
    """
    SELECT DISTINCT event_type AS metric FROM events
    WHERE regexp_matches(event_type, '^(click|error)$')
       OR regexp_matches(event_type, 'chase')
    """,
    "M4 — regex metric search (bin/kenshin-get-metrics.py:8-30)",
)
def q_ts_metric_search(spark, sf_dir):
    return metric_search(_points(spark, sf_dir), ["^(click|error)$", "chase"])


@register(
    "ts_metric_delete",
    f"""
    WITH pts AS ({PTS})
    SELECT metric, count(*) AS n_points FROM pts
    WHERE metric NOT IN ('signup', 'view')
    GROUP BY metric
    """,
    "M5 — metric delete (bin/kenshin-delete.py:39-96): surviving rows",
)
def q_ts_metric_delete(spark, sf_dir):
    survivors = metric_delete(_points(spark, sf_dir), ["signup", "view"])
    return survivors.groupBy("metric").agg(F.count(F.lit(1)).alias("n_points"))


@register(
    "ts_merge_series",
    f"""
    WITH pts AS ({PTS}),
    p AS (
      SELECT metric, ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    ),
    a AS (SELECT metric, ts, value FROM p WHERE ts % 2 = 0),
    b AS (SELECT metric, ts, value * 2 AS value FROM p)
    SELECT COALESCE(a.metric, b.metric) AS metric,
           COALESCE(a.ts, b.ts) AS ts,
           COALESCE(a.value, b.value) AS value
    FROM a FULL OUTER JOIN b ON a.metric = b.metric AND a.ts = b.ts
    """,
    "S7 — merge metric sources, earlier source wins on collisions "
    "(bin/kenshin-rehash.py:103-214); sources pre-deduped per (metric, ts)",
)
def q_ts_merge_series(spark, sf_dir):
    pts = _points(spark, sf_dir)
    p = pts.groupBy("metric", "ts").agg(
        F.expr("max_by(value, arrival)").alias("value")
    )
    a = p.where(F.col("ts") % 2 == 0).select("metric", "ts", "value")
    b = p.select("metric", "ts", (F.col("value") * 2).alias("value"))
    return merge_series([a, b], prefer_first=True)


@register(
    "ts_line_protocol",
    f"WITH pts AS ({PTS}) SELECT metric, ts, value FROM pts",
    "S1 — line-protocol parse round-trip (rurouni/protocols.py:31-42): "
    "well-formed lines parse back exactly; malformed lines drop to the "
    "dead-letter column (oracle = the original points)",
)
def q_ts_line_protocol(spark, sf_dir):
    pts = _points(spark, sf_dir)
    lines = pts.select(
        F.concat_ws(
            " ",
            F.col("metric"),
            F.col("value").cast("string"),
            F.col("ts").cast("string"),
        ).alias("line")
    )
    corrupt = pts.sparkSession.createDataFrame(
        [("garbage",), ("a b",), ("x 1 2 3",), ("   ",), ("m nan_v 12",)],
        ["line"],
    )
    from kenshin_spark.dedup.fanout import fan_out

    parsed = parse_metric_lines(
        fan_out(lines).unionByName(corrupt), line_col="line"
    )
    return parsed.where(F.col("corrupt").isNull()).select("metric", "ts", "value")


_FNV_ORACLE = """
    WITH RECURSIVE names AS (SELECT DISTINCT event_type AS metric FROM events),
    h AS (
      SELECT metric, 1 AS i, CAST(2166136261 AS BIGINT) AS hash FROM names
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
    )
    SELECT metric, CAST(((h32 % 8) + 8) % 8 AS BIGINT) AS shard FROM signed
"""


@register(
    "ts_shard_routing",
    _FNV_ORACLE,
    "P1/P2 — fnv1a-32 instance sharding (rurouni/fnv1a.pyx:6-23, "
    "rurouni/utils.py:107-108); the oracle recomputes fnv1a in recursive "
    "SQL, so placement is verified bit-for-bit",
)
def q_ts_shard_routing(spark, sf_dir):
    metrics = _points(spark, sf_dir).select("metric").distinct()
    return metrics.select(
        "metric", shard_of("metric", 8).cast("long").alias("shard")
    )


@register(
    "ts_propagation_ready",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    slots AS (SELECT DISTINCT metric, ts - ts % 300 AS slot_ts FROM pts)
    SELECT metric, slot_ts FROM slots, now_t
    WHERE slot_ts + 300 <= now - now % 6000
    """,
    "W8 — xff propagation batching (kenshin/storage.py:505-521): which "
    "300s slots a 60s→300s cascade with xff=20 (timeunit 6000s) would "
    "propagate as of `now`",
)
def q_ts_propagation_ready(spark, sf_dir):
    pts = _points(spark, sf_dir)
    now = _now(pts)
    assert propagation_timeunit(20.0, 60, 300) == 6000
    return ready_propagation_slots(pts, 60, 300, 20.0, now)


@register(
    "ts_hot_cold_union",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    cold AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts, now_t WHERE pts.ts < now_t.now - 600 GROUP BY 1, 2
    ),
    hot AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts, now_t WHERE pts.ts >= now_t.now - 720 GROUP BY 1, 2
    )
    SELECT COALESCE(h.metric, c.metric) AS metric,
           COALESCE(h.ts, c.ts) AS ts,
           COALESCE(h.value, c.value) AS value
    FROM hot h FULL OUTER JOIN cold c ON h.metric = c.metric AND h.ts = c.ts
    """,
    "S3/§3.3 — hot(unflushed) ∪ cold fetch merge with hot winning on "
    "overlap (rurouni/cache.py:161-169 + graphite-side merge)",
)
def q_ts_hot_cold_union(spark, sf_dir):
    pts = _points(spark, sf_dir)
    now = _now(pts)
    cold = last_write_wins(
        pts.where(F.col("ts") < now - 600), 60, arrival_col="arrival"
    )
    hot = last_write_wins(
        pts.where(F.col("ts") >= now - 720), 60, arrival_col="arrival"
    ).withColumnRenamed("value", "_hot")
    # on a slot both sides hold, the hot (unflushed, newer) point wins
    return hot.join(cold, ["metric", "ts"], "full").select(
        "metric", "ts", F.coalesce("_hot", "value").alias("value")
    )


@register(
    "ts_seasonal_profile",
    f"""
    WITH pts AS ({{PTS}}), t0 AS ({{LWW60}})
    SELECT metric,
           CAST(floor((ts % 86400) / 3600) AS BIGINT) AS bucket_of_period,
           round(avg(value), 6) AS mean_value,
           CAST(count(value) AS BIGINT) AS n_slots
    FROM t0 GROUP BY 1, 2
    """.format(PTS=PTS, LWW60=LWW60),
    "per-metric hour-of-day seasonal baseline over tier0 — the "
    "de-seasoning companion to ts_anomaly_zscore; 24 buckets/metric "
    "regardless of history length, so the profile broadcasts",
)
def q_ts_seasonal_profile(spark, sf_dir):
    from kenshin_spark.functions.render import seasonal_profile

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return seasonal_profile(t0)


@register(
    "ts_anomaly_zscore",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    s AS (
      SELECT metric, ts, value,
             avg(value) OVER w AS mu,
             stddev_samp(value) OVER w AS sd
      FROM t0
      WINDOW w AS (PARTITION BY metric ORDER BY ts
                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
    )
    SELECT metric, ts, value,
           round(CASE WHEN sd <> 0 THEN (value - mu) / sd END, 6) AS zscore
    FROM s
    """,
    "trailing-window z-score anomaly scores: each point against the mean/"
    "stddev of its previous 12 slots (current excluded) — one window "
    "shuffle per series",
)
def q_ts_anomaly_zscore(spark, sf_dir):
    from kenshin_spark.functions.render import zscore

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return zscore(t0, 12).withColumn("zscore", F.round("zscore", 6))


@register(
    "ts_level_shift",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    s AS (
      SELECT metric, ts, value,
             avg(value) OVER wt AS m_trail,
             count(value) OVER wt AS n_trail,
             avg(value) OVER wl AS m_lead,
             count(value) OVER wl AS n_lead
      FROM t0
      WINDOW wt AS (PARTITION BY metric ORDER BY ts
                    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING),
             wl AS (PARTITION BY metric ORDER BY ts
                    ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING)
    )
    SELECT metric, ts, value,
           round(CASE WHEN n_trail = 6 AND n_lead = 6
                      THEN m_lead - m_trail END, 6) AS shift
    FROM s
    """,
    "level-shift (step-change) score: leading-window mean minus "
    "trailing-window mean per point, NULL until both windows are full — "
    "the sustained-change complement to the z-score spike detector",
)
def q_ts_level_shift(spark, sf_dir):
    from kenshin_spark.functions.render import level_shift

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return level_shift(t0, 6).withColumn("shift", F.round("shift", 6))


@register(
    "ts_metric_correlation",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT a.metric AS metric_a, b.metric AS metric_b,
           round(corr(a.value, b.value), 6) AS r,
           count(*) AS n_slots
    FROM t0 a JOIN t0 b ON a.ts = b.ts AND a.metric < b.metric
    WHERE a.value IS NOT NULL AND b.value IS NOT NULL
    GROUP BY 1, 2
    """,
    "pairwise Pearson correlation between metrics over co-observed "
    "60s slots: grid self-join on ts (shuffle keyed by ts), one corr "
    "aggregate per pair. Pair space is O(M²/2) per slot — this "
    "unrestricted form is the test-scale oracle twin; production calls "
    "operators.correlate.metric_correlation with a targets/glob/seeds "
    "scope that bounds pairs to |scope|²/2 (or |seeds|×M), see its "
    "module docstring and tests/test_ops.py::TestMetricCorrelationScope",
)
def q_ts_metric_correlation(spark, sf_dir):
    from kenshin_spark.operators.correlate import metric_correlation

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return metric_correlation(t0)


@register(
    "ts_debug_discontinuities",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts, prev_ts, gap FROM (
      SELECT metric, ts,
             lag(ts) OVER (PARTITION BY metric ORDER BY ts) AS prev_ts,
             ts - lag(ts) OVER (PARTITION BY metric ORDER BY ts) AS gap
      FROM t0
    ) x WHERE gap IS NOT NULL AND gap <> 60
    """,
    "R10 — the point-level debug scan (bin/kenshin-debug.py:19-61 "
    "--error mode): walk each series and report timestamp "
    "discontinuities (slots where the step isn't the archive step)",
)
def q_ts_debug_discontinuities(spark, sf_dir):
    from pyspark.sql import Window

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    w = Window.partitionBy("metric").orderBy("ts")
    return (
        t0.select(
            "metric",
            "ts",
            F.lag("ts").over(w).alias("prev_ts"),
            (F.col("ts") - F.lag("ts").over(w)).alias("gap"),
        )
        .where(F.col("gap").isNotNull() & (F.col("gap") != 60))
    )


@register(
    "ts_pickle_roundtrip",
    f"WITH pts AS ({PTS}) SELECT metric, ts, value FROM pts",
    "S2 — pickle batch source (rurouni/protocols.py:45-62): points packed "
    "into the reference's wire format, shipped as binary blobs, unpacked "
    "by the Arrow-batched mapInPandas deserializer; oracle = the original "
    "points (lossless roundtrip), corrupt blobs dropped",
)
def q_ts_pickle_roundtrip(spark, sf_dir):
    from kenshin_spark.sources.pickle_batch import (
        pack_points_to_batches,
        parse_pickle_batches,
    )

    pts = _points(spark, sf_dir).select("metric", "ts", "value")
    # distributed pack (applyInPandas) — no driver-side materialization
    blobs = pack_points_to_batches(pts, batch_size=500)
    corrupt = spark.createDataFrame(
        [(bytearray(b"not a pickle"),)], "payload binary"
    )
    return parse_pickle_batches(blobs.unionByName(corrupt))


@register(
    "ts_value_histogram",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric,
           CAST(floor(value / 25.0) AS BIGINT) AS bucket,
           CAST(floor(value / 25.0) AS BIGINT) * 25.0 AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_slots
    FROM t0 WHERE value IS NOT NULL
    GROUP BY metric, floor(value / 25.0)
    """,
    "Prometheus-style per-metric value distribution over the LWW tier0 "
    "stream: fixed-width histogram buckets via floor(value/width) — one "
    "double division then floor, bit-identical across engines; a "
    "single partial-aggregated shuffle keyed (metric, bucket), output "
    "is bounded by metrics × occupied buckets so it always broadcasts "
    "back for alerting joins",
)
def q_ts_value_histogram(spark, sf_dir):
    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    bucket = F.floor(F.col("value") / 25.0).cast("long")
    return (
        t0.where(F.col("value").isNotNull())
        .groupBy("metric", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_slots"))
        .select(
            "metric",
            "bucket",
            (F.col("bucket") * 25.0).alias("bucket_lo"),
            "n_slots",
        )
    )


@register(
    "ts_counter_rate",
    f"""
    WITH pts AS ({PTS}),
    mono AS (
      SELECT metric, ts,
             sum(CAST(floor(value) AS BIGINT)) OVER (
               PARTITION BY metric ORDER BY ts, arrival
               ROWS UNBOUNDED PRECEDING
             ) AS counter
      FROM pts
    ),
    d AS (
      SELECT metric, ts,
             counter - lag(counter) OVER w AS dv,
             ts - lag(ts) OVER w AS dt
      FROM mono WINDOW w AS (PARTITION BY metric ORDER BY ts)
    )
    SELECT metric, ts,
           CASE WHEN dt > 0 AND dv >= 0 THEN dv / dt END AS rate
    FROM d
    """,
    "Prometheus-style counter rate (batch twin of the streaming "
    "with_counter_rate): per-sample positive delta over elapsed time, "
    "negative deltas (counter resets) -> NULL instead of a huge "
    "negative spike. Monotone counter synthesized by a running sum so "
    "the semantics are exercised on this corpus; dv and dt come from "
    "the same lag windows in both engines; the counter accumulates "
    "INTEGER increments (floor(value)) because engines associate "
    "windowed float sums differently (segment tree vs running) — "
    "integer sums are association-free, then rate is one exact "
    "division",
)
def q_ts_counter_rate(spark, sf_dir):
    from pyspark.sql import Window

    pts = _points(spark, sf_dir)
    wsum = (
        Window.partitionBy("metric")
        .orderBy("ts", "arrival")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mono = pts.select(
        "metric",
        "ts",
        F.sum(F.floor("value").cast("long")).over(wsum).alias("counter"),
    )
    w = Window.partitionBy("metric").orderBy("ts")
    dv = F.col("counter") - F.lag("counter").over(w)
    dt = F.col("ts") - F.lag("ts").over(w)
    return mono.select(
        "metric",
        "ts",
        F.when((dt > 0) & (dv >= 0), dv / dt).alias("rate"),
    )


@register(
    "ts_availability",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    bounds AS (
      SELECT ((now - 86400 + 59) // 60) * 60 AS from_r,
             ((now + 59) // 60) * 60 AS until_r
      FROM now_t
    ),
    slots AS (
      SELECT metric, count(DISTINCT ts - ts % 60) AS n_present
      FROM pts, bounds
      WHERE ts >= from_r AND ts < until_r
      GROUP BY metric
    )
    SELECT s.metric,
           CAST(s.n_present AS BIGINT) AS present_slots,
           CAST((b.until_r - b.from_r) / 60 AS BIGINT) AS expected_slots,
           round(s.n_present * 1.0 / ((b.until_r - b.from_r) / 60), 6)
             AS availability
    FROM slots s, bounds b
    """,
    "SLA availability: per metric, the fraction of expected tier0 slots "
    "carrying at least one point over the trailing 24 h — the uptime "
    "dashboard every TSDB serves; exact integer slot counts, one "
    "division",
)
def q_ts_availability(spark, sf_dir):
    pts = _points(spark, sf_dir)
    now = _now(pts)
    from_r = -(-(now - 86400) // 60) * 60
    until_r = -(-now // 60) * 60
    expected = (until_r - from_r) // 60
    return (
        pts.where((F.col("ts") >= from_r) & (F.col("ts") < until_r))
        .groupBy("metric")
        .agg(
            F.countDistinct(F.col("ts") - F.col("ts") % 60).alias("_p")
        )
        .select(
            "metric",
            F.col("_p").cast("long").alias("present_slots"),
            F.lit(expected).cast("long").alias("expected_slots"),
            F.round(F.col("_p") * 1.0 / expected, 6).alias("availability"),
        )
    )


@register(
    "ts_flatline_detect",
    f"""
    WITH pts AS ({PTS}), now_t AS ({NOW_T}),
    bounds AS (
      SELECT ((now - 21600 + 299) // 300) * 300 AS from_r,
             ((now + 299) // 300) * 300 AS until_r
      FROM now_t
    ),
    tier1 AS (
      SELECT metric, ts - ts % 300 AS ts, round(avg(value), 6) AS value
      FROM pts GROUP BY 1, 2
    ),
    grid AS (
      SELECT m.metric,
             unnest(generate_series(b.from_r, b.until_r - 300, 300)) AS ts
      FROM (SELECT DISTINCT metric FROM pts) m, bounds b
    ),
    g AS (
      SELECT g.metric, g.ts, t.value
      FROM grid g LEFT JOIN tier1 t ON g.metric = t.metric AND g.ts = t.ts
    ),
    filled AS (
      SELECT metric, ts,
             last_value(value IGNORE NULLS) OVER (
               PARTITION BY metric ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS value
      FROM g
    ),
    marked AS (
      SELECT metric, ts, value,
             CASE WHEN value IS NOT NULL
                   AND value = lag(value) OVER w
                  THEN 0 ELSE 1 END AS brk
      FROM filled WINDOW w AS (PARTITION BY metric ORDER BY ts)
    ),
    runs AS (
      SELECT metric, ts, value,
             sum(brk) OVER (PARTITION BY metric ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    )
    SELECT metric,
           CAST(min(ts) AS BIGINT) AS run_start,
           CAST(count(*) AS BIGINT) AS run_len,
           min(value) AS value
    FROM runs WHERE value IS NOT NULL
    GROUP BY metric, run_id HAVING count(*) >= 3
    """,
    "stale/stuck-series detection over the keepLastValue-filled grid "
    "(a flat run of ≥ 3 slots = no fresh data for 15+ min — exactly how "
    "a stuck dashboard looks): value = lag(value) breaks + running-sum "
    "run ids (the island trick); exact double equality, integer run "
    "arithmetic",
)
def q_ts_flatline_detect(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.functions.render import keep_last_value

    pts = _points(spark, sf_dir)
    now = _now(pts)
    tier1 = downsample(pts, 300, "average").withColumn(
        "value", F.round("value", 6)
    )
    grid = grid_fill(tier1, pts.select("metric").distinct(), now - 21600,
                     now, 300)
    t0 = keep_last_value(grid)
    w = Window.partitionBy("metric").orderBy("ts")
    brk = F.when(
        F.col("value").isNotNull()
        & (F.col("value") == F.lag("value").over(w)),
        0,
    ).otherwise(1)
    runs = t0.select(
        "metric",
        "ts",
        "value",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("run_id"),
    )
    return (
        runs.where(F.col("value").isNotNull())
        .groupBy("metric", "run_id")
        .agg(
            F.min("ts").cast("long").alias("run_start"),
            F.count(F.lit(1)).cast("long").alias("run_len"),
            F.min("value").alias("value"),
        )
        .where(F.col("run_len") >= 3)
        .select("metric", "run_start", "run_len", "value")
    )


GAP_SQL = """
WITH pts AS (
  SELECT event_type AS metric,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts
  FROM events
),
d AS (
  SELECT metric, ts,
         ts - lag(ts) OVER (PARTITION BY metric ORDER BY ts) AS gap
  FROM (SELECT DISTINCT metric, ts FROM pts)
)
SELECT metric, CAST(gap AS BIGINT) AS max_gap_s,
       CAST(ts AS BIGINT) AS gap_end_ts
FROM (
  SELECT metric, ts, gap,
         row_number() OVER (
           PARTITION BY metric ORDER BY gap DESC, ts
         ) AS rn
  FROM d WHERE gap IS NOT NULL
) WHERE rn = 1
"""

GAP_SPARK_SQL = """
WITH pts AS (
  SELECT event_type AS metric,
         CAST(floor(unix_timestamp(ts)) AS BIGINT) AS ts
  FROM events
),
d AS (
  SELECT metric, ts,
         ts - lag(ts) OVER (PARTITION BY metric ORDER BY ts) AS gap
  FROM (SELECT DISTINCT metric, ts FROM pts)
)
SELECT metric, CAST(gap AS BIGINT) AS max_gap_s,
       CAST(ts AS BIGINT) AS gap_end_ts
FROM (
  SELECT metric, ts, gap,
         row_number() OVER (
           PARTITION BY metric ORDER BY gap DESC, ts
         ) AS rn
  FROM d WHERE gap IS NOT NULL
) WHERE rn = 1
"""


@register(
    "ts_largest_gap",
    GAP_SQL,
    "largest ingest gap per metric (sensor-outage detection over RAW "
    "arrivals — the companion to grid-based flatline detection): one "
    "lag window co-partitioned with the metric; the winning gap is "
    "picked by an explicit (gap DESC, ts) row_number so equal-length "
    "gaps resolve identically in both engines",
)
def q_ts_largest_gap(spark, sf_dir):
    return _sql_query(GAP_SPARK_SQL, ("events",))(spark, sf_dir)


#: least-squares slope with ts CENTERED per metric before any product:
#: raw epoch seconds (~1.7e9) would burn 10 digits of the double mantissa
#: on the offset and make the slope noise-dominated; centered covariance
#: keeps relative error ~1e-13 so the 4dp-rounded per-day slope is stable
#: across engines and partition orders.
TREND_SQL = """
WITH pts AS (
  SELECT event_type AS metric,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts, value
  FROM events WHERE value IS NOT NULL
),
c AS (
  SELECT metric, avg(ts * 1.0) AS mt, avg(value) AS mv FROM pts GROUP BY metric
)
SELECT p.metric,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum((p.ts - c.mt) * (p.value - c.mv))
             / sum((p.ts - c.mt) * (p.ts - c.mt)) * 86400, 4)
         AS slope_per_day
FROM pts p JOIN c ON p.metric = c.metric
GROUP BY p.metric
"""

TREND_SPARK_SQL = """
WITH pts AS (
  SELECT event_type AS metric,
         CAST(floor(unix_timestamp(ts)) AS BIGINT) AS ts, value
  FROM events WHERE value IS NOT NULL
),
c AS (
  SELECT metric, avg(ts * 1.0) AS mt, avg(value) AS mv FROM pts GROUP BY metric
)
SELECT p.metric,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum((p.ts - c.mt) * (p.value - c.mv))
             / sum((p.ts - c.mt) * (p.ts - c.mt)) * 86400, 4)
         AS slope_per_day
FROM pts p JOIN c ON p.metric = c.metric
GROUP BY p.metric
"""


@register(
    "ts_trend_slope",
    TREND_SQL,
    "per-metric least-squares trend (units/day): centered covariance "
    "over broadcast per-metric means — ts is centered BEFORE the "
    "products so epoch magnitude doesn't eat the mantissa; 4dp rounding "
    "absorbs the remaining association noise (~1e-10 relative)",
)
def q_ts_trend_slope(spark, sf_dir):
    return _sql_query(TREND_SPARK_SQL, ("events",))(spark, sf_dir)


#: round-then-derive: trend and seasonal are each rounded to 6dp before
#: the residual subtraction, so every downstream value is computed from
#: identical operands in both engines (ROWS windows evaluate
#: sequentially in both — the render_moving_average contract).
DECOMP_CORE = """
WITH pts AS ({PTS}),
t0 AS (
  SELECT metric, ts - ts % 3600 AS ts, {ARGMAX} AS value
  FROM pts GROUP BY 1, 2
),
tr AS (
  SELECT metric, ts, value,
         round(avg(value) OVER (
           PARTITION BY metric ORDER BY ts
           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
         ), 6) AS trend
  FROM t0
),
se AS (
  SELECT metric, ts, value, trend,
         round(avg(value - trend) OVER (
           PARTITION BY metric, (ts % 86400)
         ), 6) AS seasonal
  FROM tr
)
SELECT metric, ts, value, trend, seasonal,
       round(value - trend - seasonal, 6) AS residual
FROM se
"""


@register(
    "ts_seasonal_decompose",
    DECOMP_CORE.format(
        PTS=PTS, ARGMAX="arg_max(value, arrival)"
    ),
    "STL-lite decomposition over hourly tier0: centered 5-slot moving "
    "trend, hour-of-day seasonal means of the detrended series, "
    "residual = value - trend - seasonal — each component ROUNDED "
    "before the next subtraction so both engines derive from identical "
    "operands; two window scans co-partitioned with the metric",
)
def q_ts_seasonal_decompose(spark, sf_dir):
    spark_sql = DECOMP_CORE.format(
        PTS="""
  SELECT event_type AS metric,
         CAST(floor(unix_timestamp(ts)) AS BIGINT) AS ts,
         value, event_id AS arrival
  FROM events
""",
        ARGMAX="max_by(value, arrival)",
    )
    return _sql_query(spark_sql, ("events",))(spark, sf_dir)


MONO_CORE = """
WITH pts AS (
  SELECT event_type AS metric,
         CAST(floor({EPOCH}(ts)) AS BIGINT) AS ts, value,
         event_id AS arrival
  FROM events WHERE value IS NOT NULL
),
o AS (
  SELECT metric, ts, value,
         lag(value) OVER (PARTITION BY metric ORDER BY ts, arrival)
           AS prev
  FROM pts
)
SELECT metric,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CASE WHEN value < prev THEN 1 ELSE 0 END) AS BIGINT)
         AS n_decreases,
       round(CAST(sum(CASE WHEN value < prev THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS decrease_rate
FROM o GROUP BY metric
"""


@register(
    "ts_monotonic_violations",
    MONO_CORE.format(EPOCH="epoch"),
    "counter-discipline audit: per metric, how often the raw series "
    "DECREASES (the reset events ts_counter_rate nulls out) — exact "
    "double comparisons over a (ts, arrival)-ordered lag window",
)
def q_ts_monotonic_violations(spark, sf_dir):
    return _sql_query(
        MONO_CORE.format(EPOCH="unix_timestamp"), ("events",)
    )(spark, sf_dir)


WKD_CORE = """
WITH pts AS (
  SELECT event_type AS metric,
         CAST(floor({EPOCH}(ts)) AS BIGINT) AS ts, value
  FROM events WHERE value IS NOT NULL
)
SELECT metric,
       CAST((ts {DIV} 86400 + 4) % 7 AS BIGINT) AS dow,
       CAST(count(*) AS BIGINT) AS n_points,
       round(avg(value), 6) AS mean_value
FROM pts GROUP BY metric, (ts {DIV} 86400 + 4) % 7
"""


@register(
    "ts_weekday_profile",
    WKD_CORE.format(EPOCH="epoch", DIV="//"),
    "day-of-week seasonal profile per metric (epoch-day + 4 mod 7 — "
    "pure integer arithmetic, no calendar functions to disagree on): "
    "the weekly companion to the hourly ts_seasonal_profile; 6dp-"
    "rounded means over identical doubles",
)
def q_ts_weekday_profile(spark, sf_dir):
    return _sql_query(
        WKD_CORE.format(EPOCH="unix_timestamp", DIV="DIV"), ("events",)
    )(spark, sf_dir)


VRANGE_CORE = """
WITH pts AS (
  SELECT event_type AS metric, value
  FROM events WHERE value IS NOT NULL
)
SELECT metric,
       CAST(count(*) AS BIGINT) AS n_points,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value,
       round(max(value) - min(value), 6) AS value_range
FROM pts GROUP BY metric
"""


@register(
    "ts_value_profile",
    VRANGE_CORE,
    "per-metric value-range profile (order-free extrema — the "
    "dashboard's y-axis bounds and the range input to histogram bucket "
    "sizing): one partial-agg shuffle",
)
def q_ts_value_profile(spark, sf_dir):
    return _sql_query(VRANGE_CORE, ("events",))(spark, sf_dir)


MEAN_CROSS_SQL = f"""
WITH pts AS ({PTS}), t0 AS ({LWW3600}),
d AS (
  SELECT metric, ts,
         value - avg(value) OVER (PARTITION BY metric ORDER BY ts
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
           AS diff
  FROM t0
),
s AS (
  SELECT metric, ts, diff,
         lag(diff) OVER (PARTITION BY metric ORDER BY ts) AS prev
  FROM d
)
SELECT metric,
       CAST(count(*) AS BIGINT) AS n_slots,
       CAST(sum(CASE WHEN prev IS NOT NULL AND
                          ((diff >= 0) <> (prev >= 0)) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_crossings
FROM s GROUP BY metric
"""


@register(
    "ts_mean_crossings",
    MEAN_CROSS_SQL,
    "oscillation diagnostic: how often each series crosses its own "
    "trailing 5-slot mean (mean-reversion vs trending behavior) — the "
    "sign test compares values units away from the mean, ~15 orders of "
    "magnitude above the <=5-addend window-sum noise, so the crossing "
    "count is engine-stable; one window shuffle co-partitioned by metric",
)
def q_ts_mean_crossings(spark, sf_dir):
    from pyspark.sql import Window

    grid = _grid3600(spark, sf_dir)
    w5 = Window.partitionBy("metric").orderBy("ts").rowsBetween(-4, 0)
    w = Window.partitionBy("metric").orderBy("ts")
    d = grid.select(
        "metric", "ts", (F.col("value") - F.avg("value").over(w5)).alias("diff")
    ).select("metric", "ts", "diff", F.lag("diff").over(w).alias("prev"))
    crossed = (
        F.col("prev").isNotNull()
        & ((F.col("diff") >= 0) != (F.col("prev") >= 0))
    )
    return d.groupBy("metric").agg(
        F.count("*").cast("bigint").alias("n_slots"),
        F.sum(F.when(crossed, 1).otherwise(0)).cast("bigint")
        .alias("n_crossings"),
    )


ACF1_SQL = f"""
WITH pts AS ({PTS}), t0 AS ({LWW3600}),
mu AS (
  SELECT metric, round(avg(value), 6) AS m FROM t0 GROUP BY metric
),
c AS (
  SELECT t0.metric, ts, value - m AS x
  FROM t0 JOIN mu ON t0.metric = mu.metric
),
p AS (
  SELECT metric, x,
         lead(x) OVER (PARTITION BY metric ORDER BY ts) AS nx
  FROM c
)
SELECT metric,
       round(sum(CASE WHEN nx IS NOT NULL THEN x * nx ELSE CAST(0 AS DOUBLE)
                 END) / sum(x * x), 4) AS acf1
FROM p GROUP BY metric
"""


@register(
    "ts_autocorr_lag1",
    ACF1_SQL,
    "lag-1 autocorrelation per series (is the next hour predictable "
    "from this one): the mean is ROUNDED to 6dp before centering (the "
    "ts_trend_slope discipline) so both engines center on identical "
    "operands; the product sums carry ~1e-12 association noise and the "
    "ratio is 4dp-rounded, orders of magnitude above it",
)
def q_ts_autocorr_lag1(spark, sf_dir):
    from pyspark.sql import Window

    grid = _grid3600(spark, sf_dir)
    mu = grid.groupBy("metric").agg(F.round(F.avg("value"), 6).alias("m"))
    c = grid.join(F.broadcast(mu), "metric").select(
        "metric", "ts", (F.col("value") - F.col("m")).alias("x")
    )
    w = Window.partitionBy("metric").orderBy("ts")
    p = c.select("metric", "x", F.lead("x").over(w).alias("nx"))
    return p.groupBy("metric").agg(
        F.round(
            F.sum(
                F.when(F.col("nx").isNotNull(), F.col("x") * F.col("nx"))
                .otherwise(F.lit(0.0))
            )
            / F.sum(F.col("x") * F.col("x")),
            4,
        ).alias("acf1")
    )


DAILY_SPREAD_SQL = f"""
WITH pts AS ({PTS}), t0 AS ({LWW60})
SELECT metric,
       CAST(ts - ts % 86400 AS BIGINT) AS day_ts,
       CAST(count(*) AS BIGINT) AS n_slots,
       min(value) AS day_min,
       max(value) AS day_max,
       max(value) - min(value) AS day_spread
FROM t0 GROUP BY 1, 2
"""


@register(
    "ts_daily_spread",
    DAILY_SPREAD_SQL,
    "daily min/max envelope per metric (the y-range feed for calendar "
    "heatmaps): integer day alignment + order-free double extremes — "
    "the subtraction of two exact doubles is the only arithmetic",
)
def q_ts_daily_spread(spark, sf_dir):
    grid = _grid60(spark, sf_dir)
    return grid.groupBy(
        "metric",
        (F.col("ts") - F.col("ts") % 86400).cast("bigint").alias("day_ts"),
    ).agg(
        F.count("*").cast("bigint").alias("n_slots"),
        F.min("value").alias("day_min"),
        F.max("value").alias("day_max"),
        (F.max("value") - F.min("value")).alias("day_spread"),
    )


OCCUPANCY_SQL = f"""
WITH pts AS ({PTS}), t0 AS ({LWW60}),
s AS (
  SELECT metric, count(*) AS n_obs,
         (max(ts) - min(ts)) / 60 + 1 AS span_slots
  FROM t0 GROUP BY metric
)
SELECT metric,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(span_slots AS BIGINT) AS span_slots,
       round(CAST(n_obs AS DOUBLE) / span_slots, 6) AS occupancy
FROM s
"""


@register(
    "ts_occupancy",
    OCCUPANCY_SQL,
    "grid occupancy per metric: observed 60s slots over the slot span "
    "between first and last point — the sparseness signal that decides "
    "whether a series belongs in the hot tier; ts is pre-aligned so the "
    "span division is exact integer arithmetic",
)
def q_ts_occupancy(spark, sf_dir):
    grid = _grid60(spark, sf_dir)
    s = grid.groupBy("metric").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        ((F.max("ts") - F.min("ts")) / 60 + 1).cast("bigint")
        .alias("span_slots"),
    )
    return s.select(
        "metric",
        "n_obs",
        "span_slots",
        F.round(
            F.col("n_obs").cast("double") / F.col("span_slots"), 6
        ).alias("occupancy"),
    )


STALENESS_SQL = f"""
WITH pts AS ({PTS}),
last AS (
  SELECT metric, max(ts) AS last_ts,
         sum(CASE WHEN ts >= (SELECT max(ts) FROM pts) - 86400
                  THEN 1 ELSE 0 END) AS n_last_day
  FROM pts GROUP BY metric
),
now_t AS (SELECT max(ts) AS now FROM pts)
SELECT metric,
       CAST(last_ts AS BIGINT) AS last_ts,
       CAST(now - last_ts AS BIGINT) AS age_s,
       CAST(n_last_day AS BIGINT) AS n_last_day
FROM last, now_t
"""


@register(
    "ts_staleness",
    STALENESS_SQL,
    "staleness report per metric: seconds since last arrival relative "
    "to the stream head, plus last-day arrival count — the dead-sensor "
    "dashboard; the scalar 'now' joins as a 1-row broadcast, all "
    "integer arithmetic",
)
def q_ts_staleness(spark, sf_dir):
    pts = _points(spark, sf_dir)
    now = pts.agg(F.max("ts").alias("now"))
    # the day-window count needs the scalar head — one pass over points
    joined = pts.crossJoin(F.broadcast(now))
    return (
        joined.groupBy("metric")
        .agg(
            F.max("ts").cast("bigint").alias("last_ts"),
            F.max("now").alias("_now"),
            F.sum(
                F.when(F.col("ts") >= F.col("now") - 86400, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_last_day"),
        )
        .select(
            "metric",
            "last_ts",
            (F.col("_now") - F.col("last_ts")).cast("bigint").alias("age_s"),
            "n_last_day",
        )
    )


TOP_CHANGE_SQL = f"""
WITH pts AS ({PTS}), t0 AS ({LWW3600}),
d AS (
  SELECT metric, ts,
         value - lag(value) OVER (PARTITION BY metric ORDER BY ts) AS delta
  FROM t0
),
rk AS (
  SELECT metric, ts, delta,
         row_number() OVER (PARTITION BY metric
                            ORDER BY abs(delta) DESC, ts) AS rn
  FROM d WHERE delta IS NOT NULL
)
SELECT metric, CAST(ts AS BIGINT) AS ts, delta
FROM rk WHERE rn = 1
"""


@register(
    "ts_top_changepoint",
    TOP_CHANGE_SQL,
    "largest hour-over-hour jump per metric (level-shift candidate "
    "pointer): |delta| ranked with an explicit (|delta| DESC, ts) "
    "row_number so equal jumps resolve identically in both engines — "
    "exact double comparisons, no arithmetic beyond the lag subtraction",
)
def q_ts_top_changepoint(spark, sf_dir):
    from pyspark.sql import Window

    grid = _grid3600(spark, sf_dir)
    w = Window.partitionBy("metric").orderBy("ts")
    d = grid.select(
        "metric", "ts", (F.col("value") - F.lag("value").over(w)).alias("delta")
    ).where(F.col("delta").isNotNull())
    rk = Window.partitionBy("metric").orderBy(
        F.abs("delta").desc(), F.col("ts")
    )
    return (
        d.withColumn("rn", F.row_number().over(rk))
        .where("rn = 1")
        .select("metric", F.col("ts").cast("bigint").alias("ts"), "delta")
    )


JITTER_SQL = f"""
WITH pts AS ({PTS})
SELECT metric,
       CAST(ts % 60 AS BIGINT) AS slot_offset_s,
       CAST(count(*) AS BIGINT) AS n_points
FROM pts GROUP BY 1, 2 HAVING count(*) >= 2
"""


@register(
    "ts_ingest_jitter",
    JITTER_SQL,
    "arrival-jitter profile: raw timestamp offsets inside their 60s "
    "slot (scrape-aligned sources spike at one offset; organic streams "
    "spread flat) — pure integer modulus, support >= 2 trims the "
    "singleton tail",
)
def q_ts_ingest_jitter(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return (
        pts.groupBy(
            "metric", (F.col("ts") % 60).cast("bigint").alias("slot_offset_s")
        )
        .agg(F.count("*").cast("bigint").alias("n_points"))
        .where(F.col("n_points") >= 2)
    )


WEEKEND_SQL = f"""
WITH pts AS ({PTS}),
c AS (
  SELECT metric,
         CASE WHEN (CAST(floor(ts / 86400) AS BIGINT) + 4) % 7 IN (0, 6)
              THEN 'weekend' ELSE 'weekday' END AS day_class,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM pts
)
SELECT metric, day_class,
       CAST(count(*) AS BIGINT) AS n_points,
       round(CAST(sum(cents) AS DOUBLE) / count(*) / 100, 6) AS mean_value
FROM c GROUP BY 1, 2
"""


@register(
    "ts_weekend_weekday_profile",
    WEEKEND_SQL,
    "weekend vs weekday level per metric: epoch-arithmetic day classes "
    "(Sunday=0/Saturday=6 under the Thursday anchor) with means over "
    "integer-cent snapped values — order-exact sums, one rounded "
    "division; the capacity-planning split",
)
def q_ts_weekend_weekday_profile(spark, sf_dir):
    pts = _points(spark, sf_dir)
    dow = (F.floor(F.col("ts") / 86400).cast("bigint") + 4) % 7
    day_class = F.when(dow.isin(0, 6), "weekend").otherwise("weekday")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        pts.select("metric", day_class.alias("day_class"),
                   cents.alias("cents"))
        .groupBy("metric", "day_class")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.round(
                F.sum("cents").cast("double") / F.count("*") / 100, 6
            ).alias("mean_value"),
        )
    )


XFF_SQL = f"""
WITH pts AS ({PTS}), t0 AS ({LWW60}),
hourly AS (
  SELECT metric, ts - ts % 3600 AS hour_ts, count(value) AS known
  FROM t0 GROUP BY 1, 2
),
cuts AS (
  SELECT 0 AS xff_pct UNION ALL SELECT 20 UNION ALL SELECT 50
)
SELECT metric, CAST(xff_pct AS BIGINT) AS xff_pct,
       CAST(count(*) AS BIGINT) AS total_windows,
       CAST(sum(CASE WHEN known > 0 AND known * 100 >= 60 * xff_pct
                THEN 1 ELSE 0 END) AS BIGINT) AS kept_windows
FROM hourly, cuts
GROUP BY 1, 2
"""


@register(
    "ts_xff_sensitivity",
    XFF_SQL,
    "xFilesFactor what-if: hourly downsample windows surviving the "
    "W8 known-fraction gate at xff 0/20/50%, per metric in one pass — "
    "known*100 >= 60*xff is the cross-multiplied integer form of "
    "known/60 >= xff, so no float ratio decides a keep; the retention-"
    "policy tuning table for sparse series",
)
def q_ts_xff_sensitivity(spark, sf_dir):
    grid = _grid60(spark, sf_dir)
    hourly = grid.groupBy(
        "metric", (F.col("ts") - F.col("ts") % 3600).alias("hour_ts")
    ).agg(F.count("value").alias("known"))
    cuts = grid.sparkSession.createDataFrame(
        [(0,), (20,), (50,)], "xff_pct INT"
    )
    kept = F.when(
        (F.col("known") > 0)
        & (F.col("known") * 100 >= 60 * F.col("xff_pct")),
        1,
    ).otherwise(0)
    return (
        hourly.crossJoin(F.broadcast(cuts))
        .groupBy("metric", F.col("xff_pct").cast("bigint").alias("xff_pct"))
        .agg(
            F.count("*").cast("bigint").alias("total_windows"),
            F.sum(kept).cast("bigint").alias("kept_windows"),
        )
    )


ARCHIVE_EST_SQL = f"""
WITH pts AS ({PTS}),
steps AS (
  SELECT 60 AS step UNION ALL SELECT 300 UNION ALL SELECT 3600
)
SELECT metric, CAST(step AS BIGINT) AS step,
       CAST(count(DISTINCT ts - ts % step) AS BIGINT) AS n_slots
FROM pts, steps
GROUP BY 1, 2
"""


@register(
    "ts_archive_estimate",
    ARCHIVE_EST_SQL,
    "archive sizing estimate: occupied slots per metric at each "
    "configured tier resolution (60s/300s/3600s — the TS_SCHEMA "
    "cascade) from one pass over raw points — the capacity-planning "
    "input for retention policy; integer alignment + distinct counts",
)
def q_ts_archive_estimate(spark, sf_dir):
    pts = _points(spark, sf_dir)
    steps = pts.sparkSession.createDataFrame(
        [(60,), (300,), (3600,)], "step INT"
    )
    return (
        pts.crossJoin(F.broadcast(steps))
        .groupBy("metric", F.col("step").cast("bigint").alias("step"))
        .agg(
            F.countDistinct(
                F.col("ts") - F.col("ts") % F.col("step")
            ).cast("bigint").alias("n_slots")
        )
    )


LWW_PRESSURE_SQL = f"""
WITH pts AS ({PTS}),
s AS (
  SELECT metric, count(*) AS n_points,
         count(DISTINCT ts - ts % 60) AS n_slots
  FROM pts GROUP BY metric
)
SELECT metric,
       CAST(n_points AS BIGINT) AS n_points,
       CAST(n_slots AS BIGINT) AS n_slots,
       CAST(n_points - n_slots AS BIGINT) AS n_overwritten,
       round(CAST(n_points - n_slots AS DOUBLE) / n_points, 6)
         AS overwrite_rate
FROM s
"""


@register(
    "ts_lww_overwrite_pressure",
    LWW_PRESSURE_SQL,
    "last-write-wins overwrite pressure: raw arrivals minus distinct "
    "60s slots per metric — how much data the W5 align step drops, the "
    "signal for narrowing a hot series' tier-0 step; integer counts, "
    "one rounded division",
)
def q_ts_lww_overwrite_pressure(spark, sf_dir):
    pts = _points(spark, sf_dir)
    s = pts.groupBy("metric").agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.countDistinct(F.col("ts") - F.col("ts") % 60)
        .cast("bigint")
        .alias("n_slots"),
    )
    return s.select(
        "metric",
        "n_points",
        "n_slots",
        (F.col("n_points") - F.col("n_slots")).cast("bigint")
        .alias("n_overwritten"),
        F.round(
            (F.col("n_points") - F.col("n_slots")).cast("double")
            / F.col("n_points"),
            6,
        ).alias("overwrite_rate"),
    )


LAST_PEAK_SQL = f"""
WITH pts AS ({PTS}), t0 AS ({LWW60}),
w AS (
  SELECT metric, ts - ts % 3600 AS hour_ts,
         max(value) AS peak, arg_max(value, ts) AS last_v
  FROM t0 GROUP BY 1, 2
)
SELECT metric,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN last_v <> peak THEN 1 ELSE 0 END) AS BIGINT)
         AS n_peak_hidden,
       round(CAST(sum(CASE WHEN last_v <> peak THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS divergence_rate
FROM w GROUP BY metric
"""


@register(
    "ts_agg_divergence",
    LAST_PEAK_SQL,
    "aggregation-method sensitivity: per metric, the share of hourly "
    "windows where 'last' aggregation would hide the window peak "
    "(last != max over the tier-0 slots) — the schema-choice audit "
    "between A2/A3 methods; exact raw-double equality, integer counts",
)
def q_ts_agg_divergence(spark, sf_dir):
    grid = _grid60(spark, sf_dir)
    w = grid.groupBy(
        "metric", (F.col("ts") - F.col("ts") % 3600).alias("hour_ts")
    ).agg(
        F.max("value").alias("peak"),
        F.max_by("value", "ts").alias("last_v"),
    )
    hidden = F.when(F.col("last_v") != F.col("peak"), 1).otherwise(0)
    return w.groupBy("metric").agg(
        F.count("*").cast("bigint").alias("n_windows"),
        F.sum(hidden).cast("bigint").alias("n_peak_hidden"),
        F.round(F.sum(hidden).cast("double") / F.count("*"), 6)
        .alias("divergence_rate"),
    )


COUNTER_GAUGE_SQL = f"""
WITH pts AS ({PTS}),
d AS (
  SELECT metric,
         CASE WHEN lag(value) OVER (PARTITION BY metric
                                    ORDER BY ts, arrival) IS NULL
              THEN NULL
              WHEN value >= lag(value) OVER (PARTITION BY metric
                                             ORDER BY ts, arrival)
              THEN 1 ELSE 0 END AS nondecreasing
  FROM pts
),
s AS (
  SELECT metric, count(nondecreasing) AS n,
         sum(nondecreasing) AS n_up
  FROM d WHERE nondecreasing IS NOT NULL GROUP BY metric
)
SELECT metric,
       CAST(n AS BIGINT) AS n_deltas,
       CAST(n_up AS BIGINT) AS n_nondecreasing,
       CASE WHEN n_up * 100 >= n * 95 THEN 'counter'
            ELSE 'gauge' END AS metric_class
FROM s
"""


@register(
    "ts_counter_gauge_classify",
    COUNTER_GAUGE_SQL,
    "counter-vs-gauge heuristic: metrics whose raw series is >= 95% "
    "nondecreasing classify as counters (the schema-match aid for "
    "picking sum-vs-average aggregation and enabling counter_rate) — "
    "cross-multiplied integer threshold, (ts, arrival)-deterministic "
    "delta order",
)
def q_ts_counter_gauge_classify(spark, sf_dir):
    from pyspark.sql import Window

    pts = _points(spark, sf_dir)
    w = Window.partitionBy("metric").orderBy("ts", "arrival")
    nondec = F.when(
        F.col("value") >= F.lag("value").over(w), 1
    ).otherwise(0)
    prev_exists = F.lag("value").over(w).isNotNull()
    d = pts.select(
        "metric",
        F.when(prev_exists, nondec).alias("nondecreasing"),
    ).where(F.col("nondecreasing").isNotNull())
    s = d.groupBy("metric").agg(
        F.count("nondecreasing").alias("n"),
        F.sum("nondecreasing").alias("n_up"),
    )
    return s.select(
        "metric",
        F.col("n").cast("bigint").alias("n_deltas"),
        F.col("n_up").cast("bigint").alias("n_nondecreasing"),
        F.when(
            F.col("n_up") * 100 >= F.col("n") * 95, "counter"
        ).otherwise("gauge").alias("metric_class"),
    )


TIER_AGE_SQL = f"""
WITH pts AS ({PTS}),
now_t AS (SELECT max(ts) AS now FROM pts)
SELECT metric,
       CASE WHEN now - ts < 86400 THEN 'tier0_60s'
            WHEN now - ts < 604800 THEN 'tier1_300s'
            ELSE 'tier2_3600s' END AS tier,
       CAST(count(*) AS BIGINT) AS n_points
FROM pts, now_t GROUP BY 1, 2
"""


@register(
    "ts_tier_age_distribution",
    TIER_AGE_SQL,
    "retention-tier point distribution: arrivals bucketed by the R2 "
    "archive-selection age boundaries (1d/7d from the TS_SCHEMA "
    "cascade) per metric — where the data actually lives across tiers, "
    "the companion to ts_tier_selection's routing check; integer age "
    "arithmetic against the broadcast stream head",
)
def q_ts_tier_age_distribution(spark, sf_dir):
    pts = _points(spark, sf_dir)
    now = pts.agg(F.max("ts").alias("now"))
    age = F.col("now") - F.col("ts")
    tier = (
        F.when(age < 86400, "tier0_60s")
        .when(age < 604800, "tier1_300s")
        .otherwise("tier2_3600s")
    )
    return (
        pts.crossJoin(F.broadcast(now))
        .groupBy("metric", tier.alias("tier"))
        .agg(F.count("*").cast("bigint").alias("n_points"))
    )


@register(
    "ts_daily_points_median",
    f"""
    WITH pts AS ({PTS}),
    d AS (
      SELECT metric, ts // 86400 AS day, count(*) AS n
      FROM pts GROUP BY 1, 2
    )
    SELECT metric,
           round(quantile_cont(n, 0.5), 6) AS median_daily_points,
           count(*) AS n_days
    FROM d GROUP BY 1
    """,
    "typical daily ingest per metric: the median points-per-day — the "
    "robust load figure a schema advisor converts into a step size",
)
def q_ts_daily_points_median(spark, sf_dir):
    pts = _points(spark, sf_dir)
    d = pts.groupBy(
        "metric", (F.col("ts") / 86400).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return d.groupBy("metric").agg(
        F.round(F.expr("percentile(n, 0.5)"), 6).alias(
            "median_daily_points"
        ),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "ts_stream_envelope",
    f"""
    WITH pts AS ({PTS})
    SELECT count(*) AS n_points,
           count(DISTINCT metric) AS n_metrics,
           min(ts) AS first_ts,
           max(ts) AS last_ts,
           CAST((max(ts) - min(ts)) // 86400 AS BIGINT) AS span_days
    FROM pts
    """,
    "the stream's one-row fingerprint: points, series, timestamp "
    "envelope and whole-day span — what a load manifest records "
    "before anything else runs",
)
def q_ts_stream_envelope(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct("metric").alias("n_metrics"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        ((F.max("ts") - F.min("ts")) / 86400).cast("long").alias(
            "span_days"
        ),
    )


@register(
    "ts_hashring_rebalance",
    """
    WITH RECURSIVE names AS (SELECT DISTINCT event_type AS metric FROM events),
    h AS (
      SELECT metric, 1 AS i, CAST(2166136261 AS BIGINT) AS hash FROM names
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
    )
    SELECT metric,
           CAST(((h32 % 8) + 8) % 8 AS BIGINT) AS node_before,
           CAST(((h32 % 9) + 9) % 9 AS BIGINT) AS node_after,
           ((h32 % 8) + 8) % 8 <> ((h32 % 9) + 9) % 9 AS moved
    FROM signed
    """,
    "P3 hash-ring rebalance delta (kenshin/tools/hash.py:4-20): each "
    "metric's owning node under an 8-node ring vs after adding a 9th "
    "(nodes[fnv1a(key) %% n] — modulo placement, so most keys move: the "
    "motivation for keeping placement in the shuffle partitioner "
    "instead); the oracle recomputes fnv1a-32 in recursive SQL and both "
    "modulos bit-for-bit",
)
def q_ts_hashring_rebalance(spark, sf_dir):
    from kenshin_spark.functions.hashing import shard_of

    metrics = _points(spark, sf_dir).select("metric").distinct()
    before = shard_of("metric", 8).cast("long").alias("node_before")
    after = shard_of("metric", 9).cast("long").alias("node_after")
    return metrics.select(
        "metric", before, after,
        (before != after).alias("moved"),
    )


@register(
    "ts_asof_forward_tolerance",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    slots AS (SELECT DISTINCT metric, ts - ts % 300 AS ts FROM t0),
    m AS (
      SELECT s.metric, s.ts, min(r.ts) AS ts_right
      FROM slots s LEFT JOIN t0 r
        ON r.metric = s.metric AND r.ts >= s.ts AND r.ts <= s.ts + 120
      GROUP BY 1, 2
    )
    SELECT m.metric, m.ts, m.ts_right, r.value
    FROM m LEFT JOIN t0 r
      ON r.metric = m.metric AND r.ts = m.ts_right
    """,
    "forward as-of join with tolerance: every 300s slot start matched "
    "to the EARLIEST tier0 sample at-or-after it, but only within 120s "
    "(two grid steps) — beyond that the slot keeps NULLs instead of a "
    "stale far-future sample; one union-sort pass per key like the "
    "backward direction (negated-timestamp trick), replayed in SQL via "
    "min-over-interval + equality join back",
)
def q_ts_asof_forward_tolerance(spark, sf_dir):
    from kenshin_spark.operators.asof import asof_join

    t0 = _t0(spark, sf_dir)
    slots = t0.select(
        "metric", (F.col("ts") - F.col("ts") % 300).alias("ts")
    ).distinct()
    out = asof_join(
        slots, t0, direction="forward", tolerance=120
    )
    return out.select("metric", "ts", "ts_right", "value")


@register(
    "ts_corr_seeded",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    t1 AS (
      SELECT metric, ts - ts % 3600 AS ts, arg_max(value, ts) AS value
      FROM t0 GROUP BY 1, 2
    ),
    scoped AS (SELECT * FROM t1 WHERE regexp_matches(metric, '^.*e.*$')),
    seeds AS (SELECT * FROM t1 WHERE metric = 'click')
    SELECT a.metric AS metric_a, b.metric AS metric_b,
           round(corr(a.value, b.value), 6) AS r,
           count(*) AS n_slots
    FROM seeds a JOIN scoped b
      ON b.ts = a.ts AND a.metric <> b.metric
    WHERE a.value IS NOT NULL AND b.value IS NOT NULL
    GROUP BY 1, 2
    HAVING count(*) >= 8
    """,
    "seeded + glob-scoped metric correlation: Pearson r of the 'click' "
    "seed against every metric matching glob '*e*' (the pair-space "
    "bound a 100TB fleet needs — |seeds| x |scope| instead of "
    "|metrics|^2), with a min co-observed-slot floor; same "
    "one-self-join shape as ts_metric_correlation",
)
def q_ts_corr_seeded(spark, sf_dir):
    from kenshin_spark.operators.correlate import metric_correlation

    t1 = last_write_wins(_t0(spark, sf_dir), 3600)
    return metric_correlation(
        t1, glob="*e*", seeds=["click"], min_slots=8
    )


@register(
    "ts_tag_roundtrip",
    f"""
    WITH pts AS ({PTS}),
    tagged AS (
      SELECT metric || ';dc=d' || CAST(arrival % 2 AS VARCHAR)
                    || ';host=h' || CAST(arrival % 3 AS VARCHAR) AS metric,
             ts, value
      FROM pts
    )
    SELECT metric,
           string_split(metric, ';')[1] AS name,
           string_split(string_split(metric, ';')[3], '=')[2] AS host,
           count(*) AS n_points
    FROM tagged
    WHERE string_split(string_split(metric, ';')[2], '=')[2] = 'd1'
    GROUP BY 1, 2, 3
    """,
    "graphite 1.1 tagged-series handling end-to-end: series names "
    "built by format_series (sorted-key canonical form, so equal "
    "series compare equal as strings), filtered by tag_predicate "
    "(dc=d1 — a pure JVM map lookup, stays inside codegen), and "
    "projected back through series_name/series_tags; the full tagged "
    "string stays the series identity like the reference's store "
    "layout expects",
)
def q_ts_tag_roundtrip(spark, sf_dir):
    from kenshin_spark.functions.tags import (
        format_series,
        series_tags,
        tag_predicate,
        with_tags,
    )

    pts = _points(spark, sf_dir)
    tags = F.map_from_arrays(
        F.array(F.lit("host"), F.lit("dc")),
        F.array(
            F.concat(F.lit("h"), (F.col("arrival") % 3).cast("string")),
            F.concat(F.lit("d"), (F.col("arrival") % 2).cast("string")),
        ),
    )
    tagged = pts.select(
        format_series(F.col("metric"), tags).alias("metric"), "ts", "value"
    )
    kept = tagged.where(tag_predicate({"dc": "d1"}))
    named = with_tags(kept)
    return (
        named.select(
            "metric", "name", series_tags("metric")["host"].alias("host")
        )
        .groupBy("metric", "name", "host")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


@register(
    "ts_ring_slot_utilization",
    f"""
    WITH pts AS ({PTS})
    SELECT metric,
           CAST(ts // 86400 AS BIGINT) AS day,
           count(DISTINCT ts // 3600) AS hours_covered,
           round(count(DISTINCT ts // 3600) / 24.0 * 1000000) / 1000000
             AS coverage
    FROM pts GROUP BY 1, 2
    """,
    "ring slot utilization (the reference's fixed-size ring files make "
    "this a header read; here it is one distinct-aggregate): per "
    "metric-day, how many of the 24 hour slots hold at least one "
    "point, and the coverage ratio a retention planner sizes archives "
    "by",
)
def q_ts_ring_slot_utilization(spark, sf_dir):
    pts = _points(spark, sf_dir)
    hours = F.countDistinct((F.col("ts") / 3600).cast("long"))
    return pts.groupBy(
        "metric", (F.col("ts") / 86400).cast("long").alias("day")
    ).agg(
        hours.alias("hours_covered"),
        (F.round(hours / 24.0 * 1000000) / 1000000).alias("coverage"),
    )


@register(
    "lp_corrupt_dead_letter",
    f"""
    WITH pts AS ({PTS}), ptsw AS (SELECT * FROM pts WHERE ts < {CUT})
    SELECT 'corrupt' AS kind, CAST(3 AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'ok', CAST(count(*) AS BIGINT) FROM ptsw
    """,
    "S1 — line-protocol dead-letter accounting: the week's points "
    "rendered to wire lines plus three injected malformed lines "
    "(wrong field count, NaN-free garbage value, empty metric); the "
    "parser must route exactly the bad lines to the corrupt column "
    "(rurouni/protocols.py:40-42 logs them; the dead-letter column is "
    "the replayable upgrade) and parse every well-formed line",
)
def q_lp_corrupt_dead_letter(spark, sf_dir):
    from kenshin_spark.sources.line_protocol import parse_metric_lines

    pts = _points(spark, sf_dir).where(F.col("ts") < CUT)
    lines = pts.select(
        F.concat_ws(
            " ", F.col("metric"), F.col("value").cast("string"),
            F.col("ts").cast("string"),
        ).alias("value")
    )
    bad = spark.createDataFrame(
        [("only_two_fields 1.0",), ("metric abc 123",), (" 1.0 2.0",)],
        ["value"],
    )
    parsed = parse_metric_lines(lines.unionByName(bad))
    return (
        parsed.select(
            F.when(F.col("corrupt").isNotNull(), "corrupt")
            .otherwise("ok")
            .alias("kind")
        )
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "ts_sample_rate_estimate",
    f"""
    WITH pts AS ({PTS}),
    g AS (
      SELECT metric,
             ts - lag(ts) OVER (PARTITION BY metric ORDER BY ts, arrival)
               AS gap
      FROM pts
    )
    SELECT metric,
           round(median(gap), 6) AS median_gap_s,
           count(*) AS n_gaps
    FROM g WHERE gap IS NOT NULL GROUP BY 1
    """,
    "native sample-rate estimation — what a schema advisor runs before "
    "proposing retention definitions: the exact median inter-point gap "
    "per metric (lag over (ts, arrival) so duplicate timestamps order "
    "deterministically), the number the 60s tier0 step should "
    "approximate; exact interpolated median like the render layer's",
)
def q_ts_sample_rate_estimate(spark, sf_dir):
    from pyspark.sql import Window

    pts = _points(spark, sf_dir)
    w = Window.partitionBy("metric").orderBy("ts", "arrival")
    g = pts.withColumn("gap", F.col("ts") - F.lag("ts").over(w)).where(
        F.col("gap").isNotNull()
    )
    return g.groupBy("metric").agg(
        F.round(F.expr("percentile(gap, 0.5)"), 6).alias("median_gap_s"),
        F.count(F.lit(1)).alias("n_gaps"),
    )


@register(
    "ts_flap_rate",
    f"""
    WITH pts AS ({PTS}), t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    ),
    ch AS (
      SELECT metric, CAST(ts // 86400 AS BIGINT) AS day,
             CASE WHEN lag(ts) OVER w IS NULL THEN 0
                  WHEN value = lag(value) OVER w THEN 0 ELSE 1 END AS flip
      FROM t0 WINDOW w AS (PARTITION BY metric ORDER BY ts)
    )
    SELECT metric, day,
           CAST(sum(flip) AS BIGINT) AS n_flips,
           count(*) AS n_slots
    FROM ch GROUP BY 1, 2
    """,
    "alert flap rate: per metric-day, how many tier0 slots CHANGED "
    "value vs the previous slot (the graphite changed() primitive "
    "aggregated into the flappiness number an alert-tuning pass "
    "thresholds); the first slot of a series never counts, day "
    "boundaries use the same epoch floor-division on both engines",
)
def q_ts_flap_rate(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.functions.render import changed

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    ch = changed(t0)
    # changed() emits 1.0/0.0 flip flags on the grid; aggregate per day
    return (
        ch.groupBy(
            "metric", (F.col("ts") / 86400).cast("long").alias("day")
        )
        .agg(
            F.sum("value").cast("long").alias("n_flips"),
            F.count(F.lit(1)).alias("n_slots"),
        )
    )


@register(
    "lp_parse_tagged_lines",
    f"""
    WITH pts AS ({PTS}),
    lines AS (
      SELECT metric || ';dc=d' || CAST(arrival % 2 AS VARCHAR)
               || ';host=h' || CAST(arrival % 3 AS VARCHAR)
               || ' ' || CAST(value AS VARCHAR)
               || ' ' || CAST(ts AS VARCHAR) AS line
      FROM pts WHERE value IS NOT NULL
    ),
    parsed AS (
      SELECT string_split(string_split(line, ' ')[1], ';')[1] AS name,
             string_split(string_split(
               string_split(line, ' ')[1], ';')[3], '=')[2] AS host
      FROM lines
    )
    SELECT name, host, count(*) AS n_points
    FROM parsed GROUP BY 1, 2
    """,
    "tagged series through the wire format: line-protocol rows whose "
    "metric field carries graphite 1.1 tags (no spaces, so the "
    "3-field parse is unchanged), parsed by parse_metric_lines and "
    "projected through series_name/series_tags — the relay-to-catalog "
    "path for tagged fleets; counts per (name, host) replayed via "
    "string ops",
)
def q_lp_parse_tagged_lines(spark, sf_dir):
    from kenshin_spark.functions.tags import series_name, series_tags
    from kenshin_spark.sources.line_protocol import parse_metric_lines

    pts = _points(spark, sf_dir).where(F.col("value").isNotNull())
    lines = pts.select(
        F.concat_ws(
            " ",
            F.concat(
                F.col("metric"),
                F.lit(";dc=d"), (F.col("arrival") % 2).cast("string"),
                F.lit(";host=h"), (F.col("arrival") % 3).cast("string"),
            ),
            F.col("value").cast("string"),
            F.col("ts").cast("string"),
        ).alias("value")
    )
    parsed = parse_metric_lines(lines).where(F.col("corrupt").isNull())
    return (
        parsed.select(
            series_name("metric").alias("name"),
            series_tags("metric")["host"].alias("host"),
        )
        .groupBy("name", "host")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


@register(
    "ts_retention_cost_model",
    """
    WITH m AS (SELECT count(DISTINCT event_type) AS n_metrics FROM events)
    SELECT t.sec_per_point, t.points, m.n_metrics,
           t.points * m.n_metrics AS est_rows
    FROM (VALUES
      (CAST(60 AS BIGINT),   CAST(129600 AS BIGINT)),
      (CAST(300 AS BIGINT),  CAST(51840 AS BIGINT)),
      (CAST(3600 AS BIGINT), CAST(8784 AS BIGINT))
    ) t(sec_per_point, points), m
    """,
    "retention cost model: the bank schema's archive list "
    "('60s:90d,300s:180d,3600s:366d') parsed by RetentionParser into "
    "(step, capacity) and priced against the live metric cardinality — "
    "worst-case stored rows per archive, the number a capacity planner "
    "multiplies by bytes/point; parser output is pinned against the "
    "hand-computed grammar answers times the replayed catalog count",
)
def q_ts_retention_cost_model(spark, sf_dir):
    from kenshin_spark.config import RetentionParser

    archives = [
        RetentionParser.parse_retention_def(s)
        for s in ("60s:90d", "300s:180d", "3600s:366d")
    ]
    arch_df = spark.createDataFrame(
        archives, "sec_per_point long, points long"
    )
    m = (
        _points(spark, sf_dir)
        .agg(F.countDistinct("metric").alias("n_metrics"))
    )
    return arch_df.crossJoin(F.broadcast(m)).select(
        "sec_per_point", "points", "n_metrics",
        (F.col("points") * F.col("n_metrics")).alias("est_rows"),
    )


@register(
    "ts_cascade_associativity",
    f"""
    WITH pts AS ({PTS}), t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    )
    SELECT metric, ts - ts % 3600 AS ts, max(value) AS value
    FROM t0 GROUP BY 1, 2
    """,
    "W7 cascade associativity: the 60s->300s->3600s propagation chain "
    "(operators/downsample.cascade — each tier downsampled from the "
    "PREVIOUS tier, never from raw) must equal the direct "
    "60s->3600s aggregate because max is associative — the invariant "
    "that lets the reference propagate tier-to-tier without error "
    "accumulation; the oracle computes the direct form",
)
def q_ts_cascade_associativity(spark, sf_dir):
    from kenshin_spark.config import Archive
    from kenshin_spark.operators.downsample import cascade

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    archives = [
        Archive(sec_per_point=60, count=129600),
        Archive(sec_per_point=300, count=51840),
        Archive(sec_per_point=3600, count=8784),
    ]
    return cascade(t0, archives, agg_method="max")[2]


@register(
    "ts_anomaly_band_counts",
    f"""
    SELECT metric,
           CAST(CAST(ts AS BIGINT) // 86400 AS BIGINT) AS day,
           CAST(sum(CASE WHEN abs(zscore) > 2.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           count(*) AS n_slots
    FROM ({_REG["ts_anomaly_zscore"].oracle}) z
    GROUP BY 1, 2
    """,
    "z-score anomaly volume per metric-day: |z| > 2 slot counts from "
    "the registry's rolling two-sum z-score (the float-discipline "
    "recursion already proven to replay) — the paging-rate forecast "
    "an alert-tuning pass runs before enabling a monitor",
)
def q_ts_anomaly_band_counts(spark, sf_dir):
    z = _REG["ts_anomaly_zscore"].fn(spark, sf_dir)
    return z.groupBy(
        "metric", (F.col("ts") / 86400).cast("long").alias("day")
    ).agg(
        F.sum((F.abs(F.col("zscore")) > 2.0).cast("long")).alias(
            "n_outliers"
        ),
        F.count(F.lit(1)).alias("n_slots"),
    )


@register(
    "ts_integral_daily",
    f"""
    WITH pts AS ({PTS}), t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    )
    SELECT metric, ts,
           round(sum(value) OVER (
             PARTITION BY metric, CAST(ts // 86400 AS BIGINT)
             ORDER BY ts ROWS UNBOUNDED PRECEDING
           ), 6) AS value
    FROM t0
    """,
    "graphite integral(series) with a daily reset: the running sum "
    "restarts at each midnight (the per-day odometer dashboards "
    "show); the window's sequential accumulation order is identical "
    "on both engines so the float path matches like the other "
    "running-sum rows",
)
def q_ts_integral_daily(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.operators.align import last_write_wins

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    w = (
        Window.partitionBy("metric", (F.col("ts") / 86400).cast("long"))
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t0.select(
        "metric", "ts", F.round(F.sum("value").over(w), 6).alias("value")
    )


@register(
    "ts_tier_occupancy",
    f"""
    WITH pts AS ({PTS}), t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    ),
    t1 AS (SELECT metric, ts - ts % 300 AS ts, max(value) AS value
           FROM t0 GROUP BY 1, 2),
    t2 AS (SELECT metric, ts - ts % 3600 AS ts, max(value) AS value
           FROM t1 GROUP BY 1, 2)
    SELECT CAST(0 AS BIGINT) AS tier, metric, count(*) AS n_slots
    FROM t0 GROUP BY 2
    UNION ALL
    SELECT 1, metric, count(*) FROM t1 GROUP BY 2
    UNION ALL
    SELECT 2, metric, count(*) FROM t2 GROUP BY 2
    """,
    "archive occupancy per tier: slot counts per metric down the "
    "60s/300s/3600s cascade (each tier downsampled from the previous "
    "— operators/downsample.cascade) — the fill-factor report a "
    "capacity planner compares against ring capacity; integer counts",
)
def q_ts_tier_occupancy(spark, sf_dir):
    from kenshin_spark.config import Archive
    from kenshin_spark.operators.align import last_write_wins
    from kenshin_spark.operators.downsample import cascade

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    tiers = cascade(
        t0,
        [
            Archive(sec_per_point=60, count=129600),
            Archive(sec_per_point=300, count=51840),
            Archive(sec_per_point=3600, count=8784),
        ],
        agg_method="max",
    )
    out = None
    for i, t in enumerate(tiers):
        c = t.groupBy("metric").agg(F.count(F.lit(1)).alias("n_slots"))
        c = c.select(F.lit(i).cast("long").alias("tier"), "metric", "n_slots")
        out = c if out is None else out.unionByName(c)
    return out


@register(
    "ts_value_cardinality_ratio",
    f"""
    WITH pts AS ({PTS})
    SELECT metric,
           count(*) AS n_points,
           count(DISTINCT value) AS n_distinct,
           CAST(count(DISTINCT value) * 1000000 // count(*) AS BIGINT)
             AS distinct_ppm
    FROM pts WHERE value IS NOT NULL GROUP BY 1
    """,
    "value-cardinality compression profile per metric: distinct "
    "values over total points (floor-scaled ppm) — the statistic that "
    "decides dictionary vs plain parquet encoding for a tier, and "
    "whether a metric is a low-cardinality state flag or a continuous "
    "gauge; integers throughout",
)
def q_ts_value_cardinality_ratio(spark, sf_dir):
    pts = _points(spark, sf_dir).where(F.col("value").isNotNull())
    return pts.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct("value").alias("n_distinct"),
        F.floor(
            F.countDistinct("value") * 1000000 / F.count(F.lit(1))
        ).cast("long").alias("distinct_ppm"),
    )


@register(
    "ts_slot_alignment_audit",
    f"""
    WITH pts AS ({PTS})
    SELECT metric,
           count(*) AS n_points,
           sum(CASE WHEN ts % 60 = 0 THEN 1 ELSE 0 END) AS n_aligned,
           sum(CASE WHEN ts % 60 <> 0 THEN 1 ELSE 0 END) AS n_unaligned
    FROM pts GROUP BY 1
    """,
    "ingest alignment audit: how many raw points already sit on the "
    "60s grid vs need align-down — the W5 pre-step statistic that "
    "predicts LWW collision volume (an all-aligned feed makes the "
    "align a no-op; a jittery one concentrates collisions); integer "
    "modulo only",
)
def q_ts_slot_alignment_audit(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return pts.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum((F.col("ts") % 60 == 0).cast("long")).alias("n_aligned"),
        F.sum((F.col("ts") % 60 != 0).cast("long")).alias("n_unaligned"),
    )


@register(
    "ts_gap_histogram",
    f"""
    WITH pts AS ({PTS}), t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    ),
    g AS (
      SELECT metric,
             (ts - lag(ts) OVER (PARTITION BY metric ORDER BY ts)) // 60
               - 1 AS missed
      FROM t0
    )
    SELECT metric, CAST(missed AS BIGINT) AS missed_slots,
           count(*) AS n_gaps
    FROM g WHERE missed IS NOT NULL AND missed > 0
    GROUP BY 1, 2
    """,
    "gap-length histogram per metric: how many tier0 slots each "
    "silence spans (the outage-size distribution that separates "
    "flaky collection from real downtime, and sizes keepLastValue "
    "limits); integer lag arithmetic on the aligned grid",
)
def q_ts_gap_histogram(spark, sf_dir):
    from pyspark.sql import Window

    from kenshin_spark.operators.align import last_write_wins

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    w = Window.partitionBy("metric").orderBy("ts")
    g = t0.select(
        "metric",
        ((F.col("ts") - F.lag("ts").over(w)) / 60 - 1)
        .cast("long")
        .alias("missed_slots"),
    )
    return (
        g.where(F.col("missed_slots").isNotNull() & (F.col("missed_slots") > 0))
        .groupBy("metric", "missed_slots")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
    )


@register(
    "ts_series_lifetime_report",
    f"""
    WITH pts AS ({PTS})
    SELECT metric,
           min(ts) AS first_ts, max(ts) AS last_ts,
           CAST((max(ts) - min(ts)) // 86400 AS BIGINT) AS lifetime_days,
           count(*) AS n_points
    FROM pts GROUP BY 1
    """,
    "series lifetime catalog: first/last raw timestamps, whole-day "
    "lifetime and point counts per metric — the header-inspect analog "
    "(R9) computed relationally instead of from ring headers; pure "
    "integer aggregates",
)
def q_ts_series_lifetime_report(spark, sf_dir):
    pts = _points(spark, sf_dir)
    return pts.groupBy("metric").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        ((F.max("ts") - F.min("ts")) / 86400).cast("long").alias(
            "lifetime_days"
        ),
        F.count(F.lit(1)).alias("n_points"),
    )
