"""Graphite render-function rows (``render_``): each row drives
``kenshin_spark.functions.render`` over the 60 s or 3600 s
last-write-wins grid and replays the same function in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kenshin_spark.io import load_table
from kenshin_spark.operators.align import last_write_wins
from kenshin_spark.operators.downsample import downsample
from kenshin_spark.operators.fetch import grid_fill
from kenshin_spark.queries._common import (
    _W,
    CUT,
    LWW3600,
    LWW60,
    NOW_T,
    PTS,
    _grid3600,
    _grid60,
    _grid_sql,
    _now,
    _points,
    _store,
    _t0,
    _week_slots,
    register,
)
from kenshin_spark.queries._common import QUERIES as _REG


@register(
    "render_moving_average",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           round(avg(value) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 6) AS value
    FROM t0
    """,
    "graphite movingAverage(series, 3) over tier0 — trailing-window mean, "
    "NULL-ignoring in both engines (render layer, README.md:73-75)",
)
def q_render_moving_average(spark, sf_dir):
    from kenshin_spark.functions.render import moving_average

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return moving_average(t0, 3).withColumn("value", F.round("value", 6))


@register(
    "render_moving_median",
    f"""
    WITH pts AS ({{PTS}}), t0 AS ({{LWW60}})
    SELECT metric, ts,
           round(median(value) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ), 6) AS value
    FROM t0
    """.format(PTS=PTS, LWW60=LWW60),
    "graphite movingMedian(series, 5) over tier0 — EXACT trailing-window "
    "median (percentile, not approx_percentile: the render layer feeds "
    "alerts), NULL-ignoring, interpolating even counts like quantile_cont",
)
def q_render_moving_median(spark, sf_dir):
    from kenshin_spark.functions.render import moving_median

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return moving_median(t0, 5).withColumn("value", F.round("value", 6))


@register(
    "render_time_shift",
    f"""
    WITH pts AS ({{PTS}}), t0 AS ({{LWW60}})
    SELECT a.metric, a.ts, a.value, b.value AS value_shifted,
           round(a.value - b.value, 6) AS delta
    FROM t0 a LEFT JOIN t0 b
      ON a.metric = b.metric AND b.ts = a.ts - 86400
    """.format(PTS=PTS, LWW60=LWW60),
    "graphite timeShift(series, '1d') overlay: today's slot joined to "
    "yesterday's (same-key self-join — co-partitioned, no extra shuffle "
    "beyond the tier0 alignment) with the day-over-day delta",
)
def q_render_time_shift(spark, sf_dir):
    from kenshin_spark.functions.render import time_shift

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    shifted = time_shift(t0, 86400).withColumnRenamed("value", "value_shifted")
    return (
        t0.join(shifted, ["metric", "ts"], "left")
        .select(
            "metric",
            "ts",
            "value",
            "value_shifted",
            F.round(F.col("value") - F.col("value_shifted"), 6).alias("delta"),
        )
    )


@register(
    "render_derivative",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           round(value - lag(value) OVER (
             PARTITION BY metric ORDER BY ts
           ), 6) AS value
    FROM t0
    """,
    "graphite derivative(series) over tier0 — per-slot delta via lag",
)
def q_render_derivative(spark, sf_dir):
    from kenshin_spark.functions.render import derivative

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return derivative(t0).withColumn("value", F.round("value", 6))


@register(
    "render_keep_last_value",
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
    )
    SELECT metric, ts,
           last_value(value IGNORE NULLS) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value
    FROM g
    """,
    "graphite keepLastValue over a NULL-filled fetch grid — forward fill "
    "via last_value IGNORE NULLS (composes render on top of R3)",
)
def q_render_keep_last_value(spark, sf_dir):
    from kenshin_spark.functions.render import keep_last_value

    pts = _points(spark, sf_dir)
    now = _now(pts)
    tier1 = downsample(pts, 300, "average").withColumn(
        "value", F.round("value", 6)
    )
    metrics = pts.select("metric").distinct()
    grid = grid_fill(tier1, metrics, now - 21600, now, 300)
    return keep_last_value(grid)


@register(
    "render_interpolate",
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
    scans AS (
      SELECT metric, ts, value,
             last_value(value IGNORE NULLS) OVER wb AS prev_v,
             last_value(CASE WHEN value IS NOT NULL THEN ts END
                        IGNORE NULLS) OVER wb AS prev_t,
             first_value(value IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN value IS NOT NULL THEN ts END
                         IGNORE NULLS) OVER wf AS next_t
      FROM g
      WINDOW wb AS (PARTITION BY metric ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY metric ORDER BY ts
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT metric, ts,
           CASE WHEN value IS NOT NULL THEN value
                WHEN prev_t IS NOT NULL AND next_t IS NOT NULL THEN
                  prev_v + (next_v - prev_v) * (ts - prev_t)
                         / (next_t - prev_t)
           END AS value
    FROM scans
    """,
    "graphite interpolate(series): linear fill of interior NULL runs "
    "over a NULL-filled fetch grid — two IGNORE NULLS window scans per "
    "series + a single lerp expression evaluated op-for-op identically "
    "by both engines (no round needed); leading/trailing NULLs stay NULL",
)
def q_render_interpolate(spark, sf_dir):
    from kenshin_spark.functions.render import interpolate

    pts = _points(spark, sf_dir)
    now = _now(pts)
    tier1 = downsample(pts, 300, "average").withColumn(
        "value", F.round("value", 6)
    )
    metrics = pts.select("metric").distinct()
    grid = grid_fill(tier1, metrics, now - 21600, now, 300)
    return interpolate(grid)


@register(
    "render_per_second",
    # NO round(): dv, dt, and dv/dt are computed from identical doubles
    # in identical order in both engines, so the raw quotient is
    # bit-identical — while round() itself diverges at repr boundaries
    # (Spark rounds the shortest decimal repr HALF_UP, DuckDB rounds the
    # binary value; measured one 6th-decimal flip at sf0.01).
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           CASE WHEN value - lag(value) OVER w >= 0
                THEN (value - lag(value) OVER w)
                     / (ts - lag(ts) OVER w) END AS value
    FROM t0
    WINDOW w AS (PARTITION BY metric ORDER BY ts)
    """,
    "graphite perSecond(series) over tier0 — counter delta / time delta, "
    "resets (negative deltas) → NULL",
)
def q_render_per_second(spark, sf_dir):
    from kenshin_spark.functions.render import per_second

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return per_second(t0)


@register(
    "render_integral_top2",
    # the running sum goes through DECIMAL (the repo's money-math
    # discipline): DuckDB evaluates window sums with a segment tree, so
    # a DOUBLE running sum accumulates in a different order than Spark's
    # sequential frame (measured ulp drift); exact decimal math is
    # order-free, with ONE cast back to DOUBLE at the end
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    top2 AS (
      SELECT metric FROM t0
      GROUP BY metric ORDER BY avg(value) DESC, metric LIMIT 2
    )
    SELECT t0.metric, ts,
           CAST(CASE WHEN value IS NOT NULL THEN
             sum(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY t0.metric ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) END AS DOUBLE) AS value
    FROM t0 JOIN top2 ON t0.metric = top2.metric
    """,
    "graphite integral(highestAverage(series_list, 2)) — series "
    "SELECTION (one aggregate ranks series, the winner set broadcasts "
    "back) composed with the running-sum transform; render functions "
    "compose over the grid contract",
)
def q_render_integral_top2(spark, sf_dir):
    from kenshin_spark.functions.render import highest_average, integral

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    dec = highest_average(t0, 2).withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    return integral(dec).withColumn("value", F.col("value").cast("double"))


@register(
    "render_max_datapoints",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    b AS (
      SELECT min(ts) AS t_lo,
             ((max(ts) - min(ts)) // 60 + 1 + 49) // 50 AS factor
      FROM t0
    )
    SELECT metric,
           t_lo + ((ts - t_lo) // (60 * factor)) * (60 * factor) AS ts,
           max(value) AS value
    FROM t0, b
    GROUP BY 1, 2
    """,
    "Graphite maxDataPoints + consolidateBy(series,'max'): the smallest "
    "multiple of the tier step that fits the window under 50 points, "
    "max-consolidated into buckets anchored at the window start — "
    "pure-integer step derivation and an order-free agg, so the result "
    "is bit-exact cross-engine (avg consolidation exists in the API but "
    "its big-bucket double summation rounds engine-dependently)",
)
def q_render_max_datapoints(spark, sf_dir):
    from kenshin_spark.functions.render import max_datapoints

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    lo, hi = t0.agg(F.min("ts"), F.max("ts")).first()
    return max_datapoints(
        t0, 50, 60, anchor=lo, span_slots=(hi - lo) // 60 + 1, agg="max"
    )


@register(
    "render_percentile_of_series",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT 'percentileOfSeries' AS metric, ts,
           round(quantile_cont(value, 0.9), 6) AS value
    FROM t0 GROUP BY ts
    """,
    "graphite percentileOfSeries(series_list, 90) — pointwise exact "
    "percentile across series; Spark percentile() and DuckDB "
    "quantile_cont share linear interpolation",
)
def q_render_percentile_of_series(spark, sf_dir):
    from kenshin_spark.functions.render import percentile_of_series

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return percentile_of_series(t0, 0.9).withColumn(
        "value", F.round("value", 6)
    )


@register(
    "render_ewma",
    f"""
    WITH RECURSIVE pts AS ({PTS}),
    t0 AS (
      SELECT metric, ts - ts % 3600 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    ),
    ordered AS (
      SELECT metric, ts, value,
             row_number() OVER (PARTITION BY metric ORDER BY ts) AS rn
      FROM t0
    ),
    rec AS (
      SELECT metric, ts, value, rn, value AS ew FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.metric, o.ts, o.value, o.rn,
             CASE WHEN o.value IS NULL THEN r.ew
                  WHEN r.ew IS NULL THEN o.value
                  ELSE 0.3 * o.value + (1 - 0.3) * r.ew END
      FROM ordered o JOIN rec r ON o.metric = r.metric AND o.rn = r.rn + 1
    )
    SELECT metric, ts,
           round(CASE WHEN value IS NULL THEN NULL ELSE ew END, 6) AS value
    FROM rec
    """,
    "graphite exponentialMovingAverage(series, 0.3) over hourly tier — "
    "inherently recursive (not a window expression): Spark side is a "
    "per-series Arrow applyInPandas scan, oracle replays the recurrence "
    "with a RECURSIVE CTE; (1-α) kept as a computed expression in both "
    "engines so the float math is op-for-op identical",
)
def q_render_ewma(spark, sf_dir):
    from kenshin_spark.functions.render import ewma

    t0 = last_write_wins(_points(spark, sf_dir), 3600, arrival_col="arrival")
    return ewma(t0, 0.3).withColumn("value", F.round("value", 6))


@register(
    "render_moving_stdev",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    sums AS (
      SELECT metric, ts,
             sum(value) OVER w AS s1,
             sum(value * value) OVER w AS s2,
             CAST(count(value) OVER w AS DOUBLE) AS n
      FROM t0
      WINDOW w AS (PARTITION BY metric ORDER BY ts
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT metric, ts,
           round(CASE WHEN n >= 2 THEN
             sqrt(greatest((s2 - s1 * s1 / n) / (n - 1.0), 0.0))
           END, 6) AS value
    FROM sums
    """,
    "graphite movingStdDev(series, 5): trailing sample deviation via the "
    "EXPLICIT two-sum formula in both engines (their native stddev "
    "aggregates use different streaming algorithms with different "
    "rounding paths; two window sums + one scalar expression are "
    "op-for-op identical)",
)
def q_render_moving_stdev(spark, sf_dir):
    from kenshin_spark.functions.render import moving_stdev

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return moving_stdev(t0, 5).withColumn("value", F.round("value", 6))


@register(
    "render_remove_above_percentile",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    cuts AS (
      SELECT metric, quantile_cont(value, 0.95) AS _cut
      FROM t0 GROUP BY metric
    )
    SELECT t0.metric, ts,
           CASE WHEN value <= _cut THEN value END AS value
    FROM t0 JOIN cuts ON t0.metric = cuts.metric
    """,
    "graphite removeAbovePercentile(series, 95): slots above the exact "
    "interpolated per-series P95 become NULL (outlier clipping); the "
    "tiny percentile aggregate broadcasts back onto the stream",
)
def q_render_remove_above_percentile(spark, sf_dir):
    from kenshin_spark.functions.render import remove_above_percentile

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return remove_above_percentile(t0, 95.0)


@register(
    "render_holt_forecast",
    f"""
    WITH RECURSIVE pts AS ({PTS}),
    t0 AS (
      SELECT metric, ts - ts % 3600 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    ),
    ordered AS (
      SELECT metric, ts, value,
             row_number() OVER (PARTITION BY metric ORDER BY ts) AS rn
      FROM t0
    ),
    rec AS (
      SELECT metric, ts, value, rn,
             value AS level, CAST(0 AS DOUBLE) AS trend,
             CAST(0 AS DOUBLE) AS dev,
             CAST(NULL AS DOUBLE) AS forecast,
             CAST(NULL AS BOOLEAN) AS aberrant
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.metric, o.ts, o.value, o.rn,
             0.1 * o.value + (1 - 0.1) * (r.level + r.trend),
             0.0035 * ((0.1 * o.value + (1 - 0.1) * (r.level + r.trend))
                       - r.level) + (1 - 0.0035) * r.trend,
             0.1 * abs(o.value - (r.level + r.trend)) + (1 - 0.1) * r.dev,
             r.level + r.trend,
             abs(o.value - (r.level + r.trend)) > 3 * r.dev
      FROM ordered o JOIN rec r ON o.metric = r.metric AND o.rn = r.rn + 1
    )
    SELECT metric, ts, value, round(forecast, 6) AS forecast,
           round(dev, 6) AS deviation,
           CAST(aberrant AS INTEGER) AS aberrant
    FROM rec
    """,
    "Holt double-exponential forecast + EWMA deviation band + 3-sigma "
    "aberration flag (the holtWinters* primitive; season handled by "
    "seasonal_profile) — recursive, so Arrow applyInPandas per series; "
    "oracle replays all three recurrences in one RECURSIVE CTE with "
    "op-for-op identical float expressions. The flag travels as a "
    "nullable INTEGER: NULL booleans render as None on Spark but NaN on "
    "DuckDB through pandas, which breaks order-insensitive comparison; "
    "NULL ints become float64-NaN on BOTH sides",
)
def q_render_holt_forecast(spark, sf_dir):
    from kenshin_spark.functions.render import holt_linear

    t0 = last_write_wins(_points(spark, sf_dir), 3600, arrival_col="arrival")
    return (
        holt_linear(t0)
        .withColumn("forecast", F.round("forecast", 6))
        .withColumn("deviation", F.round("deviation", 6))
        .withColumn("aberrant", F.col("aberrant").cast("int"))
    )


@register(
    "render_group_by_node",
    """
    WITH dotted AS (
      SELECT event_type || '.s' || CAST(user_id % 3 AS VARCHAR) AS metric,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts,
             value, event_id AS arrival
      FROM events
    ),
    t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM dotted GROUP BY 1, 2
    )
    SELECT string_split(metric, '.')[2] AS metric, ts,
           round(sum(value), 6) AS value
    FROM t0 GROUP BY 1, 2
    """,
    "graphite groupByNode(series_list, 1, 'sum') — series paths split on "
    "dots, slots combined per shared segment (the sumSeries family "
    "generalized); dotted paths synthesized as event_type.s<user shard>",
)
def q_render_group_by_node(spark, sf_dir):
    from kenshin_spark.functions.render import group_by_node

    ev = load_table(spark, sf_dir, "events")
    dotted = ev.select(
        F.concat_ws(
            "", F.col("event_type"), F.lit(".s"), (F.col("user_id") % 3)
        ).alias("metric"),
        F.unix_timestamp("ts").cast("long").alias("ts"),
        "value",
        F.col("event_id").alias("arrival"),
    )
    t0 = last_write_wins(dotted, 60, arrival_col="arrival")
    return group_by_node(t0, 1, "sum").withColumn(
        "value", F.round("value", 6)
    )


@register(
    "render_chain_pipeline",
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
    smoothed AS (
      SELECT metric, ts,
             avg(value) OVER (
               PARTITION BY metric ORDER BY ts
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
             ) AS value
      FROM filled
    )
    SELECT metric, ts, round(value * 2.0, 6) AS value FROM smoothed
    """,
    "a graphite-api target pipeline end-to-end through apply_chain: "
    "keepLastValue() | movingAverage(5) | scale(2) over a fetched grid "
    "— proves the registry composes the way the serving layer chains "
    "user requests; each stage reuses the oracled single-op shapes",
)
def q_render_chain_pipeline(spark, sf_dir):
    from kenshin_spark.functions.render import apply_chain

    pts = _points(spark, sf_dir)
    now = _now(pts)
    tier1 = downsample(pts, 300, "average").withColumn(
        "value", F.round("value", 6)
    )
    grid = grid_fill(tier1, pts.select("metric").distinct(), now - 21600,
                     now, 300)
    out = apply_chain(
        grid,
        [("keepLastValue",), ("movingAverage", 5), ("scale", 2.0)],
    )
    # one terminal 6dp round absorbs windowed-avg association noise
    # (segment tree vs running accumulation), same as the single-op
    # render queries
    return out.withColumn("value", F.round("value", 6))


@register(
    "render_moving_sum",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           round(sum(value) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 6) AS value
    FROM t0
    """,
    "graphite movingSum(series, 3) over tier0 — trailing-window sum, "
    "NULL-ignoring; both engines evaluate the 3-row ROWS window "
    "sequentially so the float sum order is identical (the same "
    "contract render_moving_average already holds)",
)
def q_render_moving_sum(spark, sf_dir):
    from kenshin_spark.functions.render import moving_sum
    from kenshin_spark.operators.align import last_write_wins

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return moving_sum(t0, 3).withColumn("value", F.round("value", 6))


@register(
    "render_hitcount",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts - ts % 600 AS ts,
           round(sum(value * 60), 6) AS value
    FROM t0 GROUP BY metric, ts - ts % 600
    """,
    "graphite hitcount(series, '10min') over tier0: rate-to-total "
    "bucketing (sum of value x 60 s slot width per 600 s bucket); the "
    "per-bucket float sum is <= 10 terms of identical operands",
)
def q_render_hitcount(spark, sf_dir):
    from kenshin_spark.functions.render import hitcount
    from kenshin_spark.operators.align import last_write_wins

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return hitcount(t0, 600, 60).withColumn("value", F.round("value", 6))


@register(
    "render_diff_series",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    f AS (SELECT min(metric) AS first FROM t0)
    SELECT 'diffSeries' AS metric, ts,
           round(sum(CASE WHEN metric = first THEN value
                          ELSE -value END), 6) AS value
    FROM t0, f GROUP BY ts
    """,
    "graphite diffSeries(series_list) over tier0: the lexicographically "
    "first series minus the per-slot sum of the rest (all-NULL slots "
    "stay NULL); the scalar first-metric aggregate broadcasts",
)
def q_render_diff_series(spark, sf_dir):
    from kenshin_spark.functions.render import diff_series
    from kenshin_spark.operators.align import last_write_wins

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return diff_series(t0).withColumn("value", F.round("value", 6))


@register(
    "render_range_of_series",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT 'rangeOfSeries' AS metric, ts,
           round(max(value) - min(value), 6) AS value
    FROM t0 GROUP BY ts
    """,
    "graphite rangeOfSeries(series_list) over tier0: per-slot max - min "
    "across series — order-free extrema, exact in both engines",
)
def q_render_range_of_series(spark, sf_dir):
    from kenshin_spark.functions.render import range_of_series
    from kenshin_spark.operators.align import last_write_wins

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return range_of_series(t0).withColumn("value", F.round("value", 6))


@register(
    "render_as_percent",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           round(CASE WHEN sum(value) OVER (PARTITION BY ts) <> 0
                      THEN value * 100.0 / sum(value) OVER (PARTITION BY ts)
                 END, 6) AS value
    FROM t0
    """,
    "graphite asPercent(series_list) over tier0: per-slot share of the "
    "cross-series total — one window sum keyed by ts; zero-total slots "
    "stay NULL; the handful-of-series slot sum rounds at 6dp",
)
def q_render_as_percent(spark, sf_dir):
    from kenshin_spark.functions.render import as_percent
    from kenshin_spark.operators.align import last_write_wins

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return as_percent(t0).withColumn("value", F.round("value", 6))


@register(
    "render_sort_by_total",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    keep AS (
      SELECT metric FROM t0
      GROUP BY metric ORDER BY sum(value) DESC, metric LIMIT 2
    )
    SELECT t0.metric, ts, value FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite sortByTotal + limit(2) over tier0: keep the two series "
    "with the highest NULL-ignoring totals (well-separated on this "
    "corpus, so the float totals order identically in both engines); "
    "series selection via a broadcast semi-join",
)
def q_render_sort_by_total(spark, sf_dir):
    from kenshin_spark.functions.render import sort_by_total
    from kenshin_spark.operators.align import last_write_wins

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    return sort_by_total(t0, 2)


@register(
    "render_nonneg_derivative",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    d AS (
      SELECT metric, ts,
             value - lag(value) OVER (PARTITION BY metric ORDER BY ts)
               AS delta
      FROM t0
    )
    SELECT metric, ts,
           round(CASE WHEN delta >= 0 THEN delta END, 6) AS value
    FROM d
    """,
    "graphite nonNegativeDerivative over the hourly tier: counter resets "
    "(negative deltas) become NULL — one lag window co-partitioned with "
    "the series key, no extra shuffle past the LWW align",
)
def q_render_nonneg_derivative(spark, sf_dir):
    from kenshin_spark.functions.render import non_negative_derivative

    out = non_negative_derivative(_grid3600(spark, sf_dir))
    return out.withColumn("value", F.round("value", 6))


@register(
    "render_logarithm",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           round(CASE WHEN value > 0 THEN ln(value) / ln(10.0) END, 6)
             AS value
    FROM t0
    """,
    "graphite logarithm(series, 10): non-positive slots go NULL (graphite "
    "draws None there) — ln(x)/ln(10) written identically in both engines "
    "so the float division path matches op-for-op",
)
def q_render_logarithm(spark, sf_dir):
    from kenshin_spark.functions.render import logarithm

    return logarithm(_grid60(spark, sf_dir), 10.0).withColumn(
        "value", F.round("value", 6)
    )


@register(
    "render_offset_scale",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts, round((value + 100.0) * 0.5, 6) AS value
    FROM t0
    """,
    "graphite scale(offset(series, 100), 0.5) — a two-stage scalar chain "
    "through apply_chain; Catalyst collapses both projections into the "
    "aligning aggregate (zero extra stages)",
)
def q_render_offset_scale(spark, sf_dir):
    from kenshin_spark.functions.render import apply_chain

    out = apply_chain(
        _grid60(spark, sf_dir), [("offset", 100.0), ("scale", 0.5)]
    )
    return out.withColumn("value", F.round("value", 6))


@register(
    "render_value_clamp",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           CASE WHEN value IS NULL THEN NULL
                ELSE least(greatest(value, 10.0), 250.0) END AS value
    FROM t0
    """,
    "graphite clampMin(10)+clampMax(250): slot values pinned into a band "
    "— raw parquet doubles pass through greatest/least untouched, so no "
    "rounding is needed for the hash match",
)
def q_render_value_clamp(spark, sf_dir):
    from kenshin_spark.functions.render import clamp

    return clamp(_grid60(spark, sf_dir), lo=10.0, hi=250.0)


@register(
    "render_highest_max",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    keep AS (
      SELECT metric FROM t0 GROUP BY metric
      ORDER BY max(value) DESC, metric LIMIT 3
    )
    SELECT t0.metric, ts, value FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite highestMax(series_list, 3): series selection by peak value "
    "— per-series max is a tiny aggregate broadcast back against the "
    "grid; raw doubles compare exactly so the rank is engine-stable",
)
def q_render_highest_max(spark, sf_dir):
    from kenshin_spark.functions.render import highest_max

    return highest_max(_grid60(spark, sf_dir), 3)


@register(
    "render_count_series",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT 'countSeries' AS metric, ts,
           CAST(count(value) AS DOUBLE) AS value
    FROM t0 GROUP BY ts
    """,
    "graphite countSeries: how many series report a non-NULL value per "
    "slot — integer count cast to the grid's DOUBLE contract, exact in "
    "both engines",
)
def q_render_count_series(spark, sf_dir):
    from kenshin_spark.functions.render import count_series

    return count_series(_grid60(spark, sf_dir))


@register(
    "render_stddev_series",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    s AS (
      SELECT ts, sum(value) AS s1, sum(value * value) AS s2,
             CAST(count(value) AS DOUBLE) AS n
      FROM t0 GROUP BY ts
    )
    SELECT 'stddevSeries' AS metric, ts,
           round(CASE WHEN n >= 1 THEN
             sqrt(greatest((s2 - s1 * s1 / n) / n, 0.0)) END, 6) AS value
    FROM s
    """,
    "graphite stddevSeries over the hourly tier: cross-series population "
    "deviation per slot — explicit two-sum formula (native stddev "
    "aggregates stream differently across engines); <= 5 addends per "
    "slot so 6dp rounding clears the reorder noise",
)
def q_render_stddev_series(spark, sf_dir):
    from kenshin_spark.functions.render import stddev_series

    out = stddev_series(_grid3600(spark, sf_dir))
    return out.withColumn("value", F.round("value", 6))


@register(
    "render_summarize_avg",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    b AS (
      SELECT metric, ts - ts % 1800 AS ts, avg(value) AS value
      FROM t0 GROUP BY 1, 2
    )
    SELECT metric, ts, round(value, 6) AS value FROM b
    """,
    "graphite summarize(series, '30min', 'avg'): re-bucket the minute "
    "grid onto 30-min boundaries with mean — the downsample cascade "
    "machinery under a render name; <= 30 addends/bucket, 6dp-rounded",
)
def q_render_summarize_avg(spark, sf_dir):
    from kenshin_spark.functions.render import summarize

    out = summarize(_grid60(spark, sf_dir), 1800, "average")
    return out.withColumn("value", F.round("value", 6))


@register(
    "render_changed",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    d AS (
      SELECT metric, ts, value,
             lag(value) OVER (PARTITION BY metric ORDER BY ts) AS prev,
             row_number() OVER (PARTITION BY metric ORDER BY ts) AS rn
      FROM t0
    )
    SELECT metric, ts,
           CASE WHEN rn = 1 THEN 0.0
                WHEN value IS NOT DISTINCT FROM prev THEN 0.0
                ELSE 1.0 END AS value
    FROM d
    """,
    "graphite changed(series): 1 where the slot differs from its "
    "predecessor (NULL-safe compare), 0 elsewhere and on the first slot",
)
def q_render_changed(spark, sf_dir):
    from kenshin_spark.functions.render import changed

    return changed(_grid60(spark, sf_dir))


@register(
    "render_most_deviant",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    v AS (
      SELECT metric, sum(value) AS s1, sum(value * value) AS s2,
             CAST(count(value) AS DOUBLE) AS n
      FROM t0 WHERE value IS NOT NULL GROUP BY metric
    ),
    keep AS (
      SELECT metric FROM v
      ORDER BY (s2 - s1 * s1 / n) / n DESC, metric LIMIT 2
    )
    SELECT t0.metric, ts, value FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite mostDeviant(series_list, 2): selection by per-series "
    "population variance — two-sum formula on the hourly tier; variance "
    "gaps between the 5 synthetic series are orders of magnitude above "
    "fp noise, so the rank is engine- and partition-stable",
)
def q_render_most_deviant(spark, sf_dir):
    from kenshin_spark.functions.render import most_deviant

    return most_deviant(_grid3600(spark, sf_dir), 2)


@register(
    "render_pow_roundtrip",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts, round(sqrt(value * value), 6) AS value
    FROM t0
    """,
    "graphite squareRoot(pow(series, 2)) semantics — written as the "
    "explicit sqrt(x*x) expression on BOTH engines rather than through "
    "libm pow() (pow is not correctly-rounded and differs per libm; "
    "x*x and sqrt are IEEE-exact ops), so the float path is op-for-op "
    "identical (and ≈|x| up to one ulp)",
)
def q_render_pow_roundtrip(spark, sf_dir):
    grid = _grid60(spark, sf_dir)
    v = F.col("value") * F.col("value")
    return grid.select(
        "metric", "ts", F.round(F.sqrt(v), 6).alias("value")
    )


@register(
    "render_delay",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600})
    SELECT metric, ts,
           lag(value, 3) OVER (PARTITION BY metric ORDER BY ts) AS value
    FROM t0
    """,
    "graphite delay(series, 3): each slot shows the value 3 slots back "
    "(NULL before history) — unlike timeShift the time axis stays put; "
    "raw doubles pass through the lag untouched",
)
def q_render_delay(spark, sf_dir):
    from kenshin_spark.functions.render import delay

    return delay(_grid3600(spark, sf_dir), 3)


@register(
    "render_moving_extrema",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600})
    SELECT metric, ts,
           min(value) OVER w AS value_min,
           max(value) OVER w AS value_max
    FROM t0
    WINDOW w AS (PARTITION BY metric ORDER BY ts
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    "graphite movingMin(series,5) + movingMax(series,5) as one envelope "
    "— two frames over the same window spec share a single sort/shuffle "
    "in Catalyst; min/max of doubles are exact (no rounding needed)",
)
def q_render_moving_extrema(spark, sf_dir):
    from pyspark.sql import Window

    grid = _grid3600(spark, sf_dir)
    w = (
        Window.partitionBy("metric")
        .orderBy("ts")
        .rowsBetween(-4, 0)
    )
    return grid.select(
        "metric",
        "ts",
        F.min("value").over(w).alias("value_min"),
        F.max("value").over(w).alias("value_max"),
    )


@register(
    "render_slice_scale",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    bounds AS (
      SELECT min(ts) + 86400 AS lo, max(ts) - 86400 AS hi FROM t0
    )
    SELECT metric, ts,
           round(CASE WHEN ts >= lo AND ts < hi
                      THEN value * (300.0 / 60.0) END, 6) AS value
    FROM t0, bounds
    """,
    "graphite scaleToSeconds(timeSlice(series, +1d, -1d), 300): NULL out "
    "the first/last day (timeSlice keeps the grid shape) then "
    "renormalize the per-60s slots to a per-300s rate — both steps fold "
    "into one projection over the aligning aggregate",
)
def q_render_slice_scale(spark, sf_dir):
    from kenshin_spark.functions.render import scale_to_seconds, time_slice

    grid = _grid60(spark, sf_dir)
    lo, hi = grid.agg(
        (F.min("ts") + 86400).alias("lo"), (F.max("ts") - 86400).alias("hi")
    ).first()
    out = scale_to_seconds(time_slice(grid, int(lo), int(hi)), 300, 60)
    return out.withColumn("value", F.round("value", 6))


@register(
    "render_average_above",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    keep AS (
      SELECT metric FROM t0 GROUP BY metric
      HAVING avg(value) > 50.0
    )
    SELECT t0.metric, ts, value FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite averageAbove(series_list, 50): keep series whose mean "
    "exceeds the bar — per-series means sit far from 50.0 relative to "
    "summation noise (verified at both SFs), so the filter is stable; "
    "surviving rows are raw passthrough doubles",
)
def q_render_average_above(spark, sf_dir):
    from kenshin_spark.functions.render import average_above

    return average_above(_grid60(spark, sf_dir), 50.0)


@register(
    "render_grep_exclude",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts, value FROM t0
    WHERE regexp_matches(metric, '^(click|view|error)')
      AND NOT regexp_matches(metric, 'error')
    """,
    "graphite exclude(grep(series_list, '^(click|view|error)'), 'error') "
    "— name-pattern selection composed; both predicates collapse into "
    "one scan filter (Spark rlike is re.search-style like graphite's)",
)
def q_render_grep_exclude(spark, sf_dir):
    from kenshin_spark.functions.render import exclude_series, grep_series

    return exclude_series(
        grep_series(_grid60(spark, sf_dir), "^(click|view|error)"), "error"
    )


@register(
    "render_n_percentile",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    p AS (
      SELECT metric, quantile_cont(value, 0.95) AS pv
      FROM t0 WHERE value IS NOT NULL GROUP BY metric
    )
    SELECT t0.metric, ts, round(pv, 6) AS value
    FROM t0 JOIN p ON t0.metric = p.metric
    """,
    "graphite nPercentile(series, 95): each series becomes a flat line "
    "at its own p95 — Spark `percentile` and DuckDB `quantile_cont` use "
    "the same R-7 interpolation over identical parquet doubles, rounded "
    "6dp",
)
def q_render_n_percentile(spark, sf_dir):
    from kenshin_spark.functions.render import n_percentile

    out = n_percentile(_grid3600(spark, sf_dir), 95.0)
    return out.withColumn("value", F.round("value", 6))


@register(
    "render_lowest_average",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    keep AS (
      SELECT metric FROM t0 GROUP BY metric
      ORDER BY avg(value) ASC, metric LIMIT 2
    )
    SELECT t0.metric, ts, value FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite lowestAverage(series_list, 2): inverse selection of "
    "highestAverage — per-series means on the hourly tier are separated "
    "by >> fp noise (checked at both SFs), rank is stable; rows are raw "
    "passthrough doubles",
)
def q_render_lowest_average(spark, sf_dir):
    from kenshin_spark.functions.render import lowest_average

    return lowest_average(_grid3600(spark, sf_dir), 2)


@register(
    "render_minimum_above",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    floor_t AS (SELECT min(value) AS fleet_floor FROM t0),
    keep AS (
      SELECT metric FROM t0, floor_t
      GROUP BY metric, fleet_floor HAVING min(value) > fleet_floor
    )
    SELECT t0.metric, ts, value FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite minimumAbove(series_list, n) with the fleet floor as the "
    "bar: keep every series whose own floor sits above the global "
    "minimum — raw-double comparisons only (no arithmetic), so the "
    "selection is exact at any SF; per-series mins broadcast back",
)
def q_render_minimum_above(spark, sf_dir):
    from kenshin_spark.functions.render import minimum_above

    grid = _grid60(spark, sf_dir)
    fleet_floor = grid.agg(F.min("value")).first()[0]
    return minimum_above(grid, float(fleet_floor))


@register(
    "render_average_below",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    keep AS (
      SELECT metric FROM t0 GROUP BY metric HAVING avg(value) < 50.0
    )
    SELECT t0.metric, ts, value FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite averageBelow(series_list, 50): the inverse selection of "
    "averageAbove — per-series hourly means sit units away from the "
    "bar (noise ~1e-11), so the filter is engine- and partition-stable",
)
def q_render_average_below(spark, sf_dir):
    from kenshin_spark.functions.render import average_below

    return average_below(_grid3600(spark, sf_dir), 50.0)


@register(
    "render_current_above",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    cur AS (
      SELECT metric, arg_max(value, ts) AS cur
      FROM t0 WHERE value IS NOT NULL GROUP BY metric
    )
    SELECT t0.metric, ts, value
    FROM t0 JOIN cur ON t0.metric = cur.metric
    WHERE cur.cur > 15.0
    """,
    "graphite currentAbove(series_list, 15): selection by the freshest "
    "reading — max_by/arg_max on the (unique per series) hourly slot "
    "key, raw-double threshold, no arithmetic anywhere",
)
def q_render_current_above(spark, sf_dir):
    from kenshin_spark.functions.render import current_above

    return current_above(_grid3600(spark, sf_dir), 15.0)


@register(
    "render_limit_alias",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    keep AS (
      SELECT DISTINCT metric FROM t0 ORDER BY metric LIMIT 3
    )
    SELECT regexp_replace(t0.metric, '^(click|error)', 'ui.\\1') AS metric,
           ts, value
    FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite aliasSub(limit(series_list, 3), '^(click|error)', "
    "'ui.\\1'): deterministic name-order truncation then regex rename "
    "— backreference syntax differs per engine ($1 Spark, \\1 DuckDB) "
    "but the rewritten names are identical",
)
def q_render_limit_alias(spark, sf_dir):
    from kenshin_spark.functions.render import alias_sub, limit_series

    return alias_sub(
        limit_series(_grid3600(spark, sf_dir), 3), "^(click|error)", "ui.$1"
    )


@register(
    "render_alias_by_node",
    f"""
    WITH pts0 AS ({PTS}),
    pts AS (
      SELECT 'stream.' || metric || '.rate' AS metric, ts, value, arrival
      FROM pts0
    ),
    t0 AS ({LWW3600})
    SELECT string_split(metric, '.')[2] AS metric, ts, value
    FROM t0
    """,
    "graphite aliasByNode(series, 1): keep one dotted-path segment as "
    "the display name (0-based node index; 1-based array access in "
    "both engines) — dotted paths synthesized the render_group_by_node "
    "way; values untouched",
)
def q_render_alias_by_node(spark, sf_dir):
    from kenshin_spark.functions.render import alias_by_node

    pts = _points(spark, sf_dir).withColumn(
        "metric", F.concat(F.lit("stream."), F.col("metric"), F.lit(".rate"))
    )
    grid = last_write_wins(pts, 3600, arrival_col="arrival")
    return alias_by_node(grid, 1)


@register(
    "render_abs_invert",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           round(CASE WHEN abs(value - 50.0) <> 0
                      THEN 1.0 / abs(value - 50.0) END, 6) AS value
    FROM t0
    """,
    "graphite invert(absolute(offset(series, -50))): distance-from-"
    "setpoint reciprocal — the offset/absolute/invert chain through "
    "apply_chain; exact-zero distance goes NULL (the grid contract has "
    "no infinities), all three stages fold into one projection",
)
def q_render_abs_invert(spark, sf_dir):
    from kenshin_spark.functions.render import apply_chain

    out = apply_chain(
        _grid60(spark, sf_dir),
        [("offset", -50.0), "absolute", "invert"],
    )
    return out.withColumn("value", F.round("value", 6))


@register(
    "render_series_envelope",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600})
    SELECT 'maxSeries' AS metric, ts, max(value) AS value
    FROM t0 GROUP BY ts
    UNION ALL
    SELECT 'minSeries' AS metric, ts, min(value) AS value
    FROM t0 GROUP BY ts
    UNION ALL
    SELECT 'averageSeries' AS metric, ts, round(avg(value), 6) AS value
    FROM t0 GROUP BY ts
    UNION ALL
    SELECT 'sumSeries' AS metric, ts, round(sum(value), 6) AS value
    FROM t0 GROUP BY ts
    """,
    "the four cross-series combiners (maxSeries / minSeries / "
    "averageSeries / sumSeries) as one envelope result — min/max are "
    "order-free exact doubles, the <=5-addend avg/sum are 6dp-rounded; "
    "Catalyst shares one aggregate shuffle across the four branches",
)
def q_render_series_envelope(spark, sf_dir):
    from kenshin_spark.functions.render import (
        avg_series,
        max_series,
        min_series,
        sum_series,
    )

    g = _grid3600(spark, sf_dir)
    rounded = lambda df: df.withColumn("value", F.round("value", 6))  # noqa: E731
    return (
        max_series(g)
        .unionByName(min_series(g))
        .unionByName(rounded(avg_series(g)))
        .unionByName(rounded(sum_series(g)))
    )


@register(
    "render_remove_value_band",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           CASE WHEN value > 250.0 OR value < 10.0 THEN NULL
                ELSE value END AS value
    FROM t0
    """,
    "graphite removeBelowValue(removeAboveValue(series, 250), 10): "
    "slots outside the [10, 250] band become NULL while the grid shape "
    "survives (the NULLing counterpart to render_value_clamp's "
    "pinning) — raw-double comparisons, no arithmetic",
)
def q_render_remove_value_band(spark, sf_dir):
    from kenshin_spark.functions.render import apply_chain

    return apply_chain(
        _grid60(spark, sf_dir),
        [("removeAboveValue", 250.0), ("removeBelowValue", 10.0)],
    )


@register(
    "render_current_selections",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    cur AS (
      SELECT metric, arg_max(value, ts) AS cur
      FROM t0 WHERE value IS NOT NULL GROUP BY metric
    ),
    hi AS (SELECT metric FROM cur ORDER BY cur DESC, metric LIMIT 2),
    lo AS (SELECT metric FROM cur ORDER BY cur ASC, metric LIMIT 2),
    below AS (SELECT metric FROM cur WHERE cur < 15.0)
    SELECT 'highest' AS arm, t0.metric, ts, value
    FROM t0 JOIN hi ON t0.metric = hi.metric
    UNION ALL
    SELECT 'lowest' AS arm, t0.metric, ts, value
    FROM t0 JOIN lo ON t0.metric = lo.metric
    UNION ALL
    SELECT 'below' AS arm, t0.metric, ts, value
    FROM t0 JOIN below ON t0.metric = below.metric
    """,
    "the freshest-reading selection family in one result: "
    "highestCurrent(2), lowestCurrent(2), and currentBelow(15) arms "
    "over the same grid — last values are unique raw doubles (the "
    "hourly slot key is unique per series), so every selection is "
    "exact; each tiny selection broadcasts back",
)
def q_render_current_selections(spark, sf_dir):
    from kenshin_spark.functions.render import (
        current_below,
        highest_current,
        lowest_current,
    )

    g = _grid3600(spark, sf_dir)
    tag = lambda df, a: df.select(  # noqa: E731
        F.lit(a).alias("arm"), "metric", "ts", "value"
    )
    return (
        tag(highest_current(g, 2), "highest")
        .unionByName(tag(lowest_current(g, 2), "lowest"))
        .unionByName(tag(current_below(g, 15.0), "below"))
    )


@register(
    "render_alias_chain",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600})
    SELECT 'rate' AS metric, ts, value
    FROM t0 WHERE metric = 'click'
    """,
    "graphite aliasByMetric(alias(grep(series_list, '^click$'), "
    "'ui.click.rate')): the display-name surgery family chained — "
    "grep selects, alias renames to a dotted path, aliasByMetric keeps "
    "the last segment; values pass through untouched",
)
def q_render_alias_chain(spark, sf_dir):
    from kenshin_spark.functions.render import apply_chain

    return apply_chain(
        _grid3600(spark, sf_dir),
        [("grep", "^click$"), ("alias", "ui.click.rate"), "aliasByMetric"],
    )


@register(
    "render_average_outside_percentile",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW3600}),
    means AS (
      SELECT metric, avg(value) AS m FROM t0 GROUP BY metric
    ),
    cuts AS (
      SELECT quantile_cont(m, 0.2) AS lo, quantile_cont(m, 0.8) AS hi
      FROM means
    ),
    keep AS (
      SELECT metric FROM means, cuts WHERE m < lo OR m > hi
    )
    SELECT t0.metric, ts, value FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite averageOutsidePercentile(series_list, 80): keep the "
    "outlier series whose mean falls outside the [20th, 80th] "
    "percentile band of all series means — R-7 interpolated cuts sit "
    "strictly between sorted means, units away from summation noise, "
    "so the strict compare is engine-stable",
)
def q_render_average_outside_percentile(spark, sf_dir):
    from kenshin_spark.functions.render import average_outside_percentile

    return average_outside_percentile(_grid3600(spark, sf_dir), 80.0)


@register(
    "render_maximum_below",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    ceil_t AS (SELECT max(value) AS fleet_ceiling FROM t0),
    keep AS (
      SELECT metric FROM t0, ceil_t
      GROUP BY metric, fleet_ceiling HAVING max(value) < fleet_ceiling
    )
    SELECT t0.metric, ts, value FROM t0 JOIN keep ON t0.metric = keep.metric
    """,
    "graphite maximumBelow(series_list, n) with the fleet ceiling as "
    "the bar: keep every series whose own peak sits under the global "
    "maximum (drops exactly the argmax series — fixed bars go empty "
    "across SFs, the render_minimum_above lesson) — raw-double "
    "comparisons only",
)
def q_render_maximum_below(spark, sf_dir):
    from kenshin_spark.functions.render import maximum_below

    grid = _grid60(spark, sf_dir)
    ceiling = grid.agg(F.max("value")).first()[0]
    return maximum_below(grid, float(ceiling))


@register(
    "render_divide_series",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    ma AS (
      SELECT metric, ts,
             avg(value) OVER (
               PARTITION BY metric ORDER BY ts
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             ) AS mval
      FROM t0
    )
    SELECT a.metric, a.ts,
           CASE WHEN m.mval IS NOT NULL AND m.mval <> 0
                THEN round(a.value / m.mval * 1000000) / 1000000
           END AS value
    FROM t0 a LEFT JOIN ma m ON m.metric = a.metric AND m.ts = a.ts
    """,
    "graphite divideSeries(series, movingAverage(series, 3)) — each slot "
    "relative to its own trailing mean (the local-anomaly ratio); the "
    "slot-wise join is co-partitioned on (metric, ts) so Catalyst plans "
    "it without a second shuffle; divisor 0/missing -> NULL; explicit "
    "round(x*1e6)/1e6 on both engines (the shortest-decimal round(x, 6) "
    "trap)",
)
def q_render_divide_series(spark, sf_dir):
    from kenshin_spark.functions.render import divide_series, moving_average

    t0 = _t0(spark, sf_dir)
    out = divide_series(t0, moving_average(t0, 3))
    return out.select(
        "metric", "ts",
        (F.round(F.col("value") * 1000000) / 1000000).alias("value"),
    )


@register(
    "render_sort_by_maxima",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    kept AS (
      SELECT metric FROM t0 GROUP BY metric
      ORDER BY max(value) DESC, metric LIMIT 3
    )
    SELECT a.metric, a.ts, a.value
    FROM t0 a JOIN kept k ON k.metric = a.metric
    """,
    "graphite sortByMaxima + limit(3): keep the 3 series with the "
    "highest peak — per-series max is a map-side-combined aggregate and "
    "the survivor set broadcasts back against the grid (no full-series "
    "shuffle); ties break on the metric name so both engines pick the "
    "same survivors",
)
def q_render_sort_by_maxima(spark, sf_dir):
    from kenshin_spark.functions.render import sort_by_maxima

    return sort_by_maxima(_t0(spark, sf_dir), 3)


@register(
    "render_moving_minmax",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           min(value) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS vmin,
           max(value) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS vmax
    FROM t0
    """,
    "graphite movingMin/movingMax(series, 5) as one row: the trailing "
    "extrema envelope — two window aggregates over the SAME sort order, "
    "one shuffle + one sort in the plan (Catalyst collapses same-frame "
    "windows); comparisons only, no float arithmetic, so values match "
    "bit-for-bit",
)
def q_render_moving_minmax(spark, sf_dir):
    from kenshin_spark.functions.render import moving_max, moving_min

    t0 = _t0(spark, sf_dir)
    lo = moving_min(t0, 5).withColumnRenamed("value", "vmin")
    hi = moving_max(t0, 5).withColumnRenamed("value", "vmax")
    return lo.join(hi, ["metric", "ts"])


@register(
    "render_square_root",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           CASE WHEN value >= 0 THEN sqrt(value) END AS value
    FROM t0
    """,
    "graphite squareRoot(series): negative slots go NULL (graphite "
    "emits None there); IEEE-754 sqrt is correctly rounded in both "
    "engines so the doubles agree bit-for-bit with no rounding guard",
)
def q_render_square_root(spark, sf_dir):
    from kenshin_spark.functions.render import square_root

    return square_root(_t0(spark, sf_dir))


@register(
    "render_value_gate",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts,
           CASE WHEN value <= 400.0 THEN value END AS v_capped,
           CASE WHEN value >= 100.0 THEN value END AS v_floored
    FROM t0
    """,
    "graphite removeAboveValue(series, 400) and removeBelowValue("
    "series, 100) side by side: out-of-gate slots become NULL while the "
    "grid shape survives (the alert-silencing primitives); pure "
    "comparisons, exact on both engines",
)
def q_render_value_gate(spark, sf_dir):
    from kenshin_spark.functions.render import (
        remove_above_value,
        remove_below_value,
    )

    t0 = _t0(spark, sf_dir)
    capped = remove_above_value(t0, 400.0).withColumnRenamed(
        "value", "v_capped"
    )
    floored = remove_below_value(t0, 100.0).withColumnRenamed(
        "value", "v_floored"
    )
    return capped.join(floored, ["metric", "ts"])


@register(
    "render_alias_rewrite",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT regexp_replace(metric, '[aeiou]', '~', 'g') AS metric,
           ts, value
    FROM t0
    """,
    "graphite aliasSub + aliasByMetric composed: vowels rewritten to "
    "'~' (aliasSub replaces EVERY occurrence — the DuckDB oracle needs "
    "the 'g' flag where Spark's regexp_replace is global by default), "
    "then an 'app.' prefix is added and aliasByMetric strips back to "
    "the last dotted segment — the display-name pipeline as one row",
)
def q_render_alias_rewrite(spark, sf_dir):
    from kenshin_spark.functions.render import alias_by_metric, alias_sub

    out = alias_sub(_t0(spark, sf_dir), "[aeiou]", "~")
    out = alias_sub(out, "^", "app.")
    return alias_by_metric(out)


@register(
    "render_scale_to_seconds",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts, value * 0.25 AS value FROM t0
    """,
    "graphite scaleToSeconds(series, 15) on a 60s grid: every slot "
    "normalized to a per-15s rate (factor 15/60 = 0.25, a binary-exact "
    "multiplier, so no rounding guard is needed)",
)
def q_render_scale_to_seconds(spark, sf_dir):
    from kenshin_spark.functions.render import scale_to_seconds

    return scale_to_seconds(_t0(spark, sf_dir), 15, 60)


@register(
    "render_time_slice",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}), now_t AS ({NOW_T})
    SELECT metric, ts,
           CASE WHEN ts >= now - 172800 AND ts < now - 86400
                THEN value END AS value
    FROM t0, now_t
    """,
    "graphite timeSlice(series, now-2d, now-1d): slots outside the "
    "window become NULL while the grid shape stays (unlike a WHERE — "
    "downstream consumers keep their slot alignment); `now` is the "
    "newest raw event on both engines",
)
def q_render_time_slice(spark, sf_dir):
    from kenshin_spark.functions.render import time_slice

    pts = _points(spark, sf_dir)
    now = _now(pts)
    t0 = last_write_wins(pts, 60, arrival_col="arrival")
    return time_slice(t0, now - 172800, now - 86400)


@register(
    "render_min_max_range",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT 'minSeries' AS metric, ts, min(value) AS value
    FROM t0 GROUP BY ts
    UNION ALL
    SELECT 'maxSeries', ts, max(value) FROM t0 GROUP BY ts
    UNION ALL
    SELECT 'rangeOfSeries', ts, max(value) - min(value) FROM t0 GROUP BY ts
    """,
    "graphite minSeries / maxSeries / rangeOfSeries as one row: the "
    "per-slot envelope across series — three synthetic series from the "
    "same one-shuffle per-ts aggregate; max-min subtraction of exact "
    "doubles, no rounding guard",
)
def q_render_min_max_range(spark, sf_dir):
    from kenshin_spark.functions.render import (
        max_series,
        min_series,
        range_of_series,
    )

    t0 = _t0(spark, sf_dir)
    return (
        min_series(t0)
        .unionByName(max_series(t0))
        .unionByName(range_of_series(t0))
    )


@register(
    "render_highest_lowest_current",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    cur AS (
      SELECT metric, arg_max(value, ts) AS _cur FROM t0
      WHERE value IS NOT NULL GROUP BY metric
    ),
    hi AS (SELECT metric FROM cur ORDER BY _cur DESC, metric LIMIT 2),
    lo AS (SELECT metric FROM cur ORDER BY _cur ASC, metric LIMIT 2)
    SELECT 'highest' AS which, a.metric, a.ts, a.value
    FROM t0 a JOIN hi ON hi.metric = a.metric
    UNION ALL
    SELECT 'lowest', a.metric, a.ts, a.value
    FROM t0 a JOIN lo ON lo.metric = a.metric
    """,
    "graphite highestCurrent(2) and lowestCurrent(2) as one row: "
    "series selected by their freshest non-NULL reading (max_by/arg_max "
    "over ts), survivors broadcast back against the grid; ties break on "
    "the metric name on both engines",
)
def q_render_highest_lowest_current(spark, sf_dir):
    from kenshin_spark.functions.render import highest_current, lowest_current

    t0 = _t0(spark, sf_dir)
    hi = highest_current(t0, 2).select(
        F.lit("highest").alias("which"), "metric", "ts", "value"
    )
    lo = lowest_current(t0, 2).select(
        F.lit("lowest").alias("which"), "metric", "ts", "value"
    )
    return hi.unionByName(lo)


@register(
    "render_target_expression",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60}),
    scoped AS (SELECT * FROM t0 WHERE regexp_matches(metric, '^c[^.]*$')),
    ma AS (
      SELECT metric, ts,
             avg(value) OVER (
               PARTITION BY metric ORDER BY ts
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
             ) AS mval
      FROM scoped
    )
    SELECT metric, ts,
           round(mval * 2.0 * 1000000) / 1000000 AS value
    FROM ma
    """,
    "the graphite-web query language end-to-end: parse_target("
    "'scale(movingAverage(c*,3),2)') -> (glob, inside-out chain), the "
    "glob compiled to a regex scan filter (glob_to_regex) and the chain "
    "applied by apply_chain — the full serving-path translation from a "
    "dashboard string to a Catalyst plan; the oracle replays glob "
    "scope, trailing mean and scale with the explicit x*1e6 rounding "
    "guard",
)
def q_render_target_expression(spark, sf_dir):
    from kenshin_spark.functions.render import apply_chain
    from kenshin_spark.functions.targets import parse_target
    from kenshin_spark.operators.maintenance import glob_to_regex

    glob, chain = parse_target("scale(movingAverage(c*,3),2)")
    scoped = _t0(spark, sf_dir).where(
        F.col("metric").rlike(glob_to_regex(glob))
    )
    out = apply_chain(scoped, chain)
    return out.select(
        "metric", "ts",
        (F.round(F.col("value") * 1000000) / 1000000).alias("value"),
    )


@register(
    "render_summarize_max",
    f"""
    WITH pts AS ({PTS}), t0 AS ({LWW60})
    SELECT metric, ts - ts % 3600 AS ts, max(value) AS value
    FROM t0 GROUP BY 1, 2
    """,
    "graphite summarize(series, '1h', 'max'): tier0 re-bucketed into "
    "hour slots by per-slot maximum — the peak-preserving rollup ops "
    "dashboards use for alert lines; comparisons only, exact on both "
    "engines",
)
def q_render_summarize_max(spark, sf_dir):
    from kenshin_spark.functions.render import summarize

    return summarize(_t0(spark, sf_dir), 3600, "max")


@register(
    "render_chain_over_store",
    f"""
    SELECT metric, ts,
           round(avg(value) OVER (
             PARTITION BY metric ORDER BY ts
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) * 2.0 * 1000000) / 1000000 AS value
    FROM (
      WITH {_W}, now_t AS (SELECT {CUT} AS now),
      tier AS (SELECT metric, ts, value FROM t0),
      {_grid_sql("now - 86400", "now", 60,
                 "SELECT DISTINCT event_type AS metric FROM events "
                 "WHERE event_type LIKE 'c%' OR event_type LIKE 'e%'")}
    ) g
    """,
    "the COMPLETE dashboard serving path minus the socket: the target "
    "string 'scale(movingAverage({{c*,e*}},3),2)' parsed by "
    "parse_target, its brace-alternation glob resolved against the "
    "persisted store's namespace by fetch_glob, the NULL-filled grid "
    "pushed through apply_chain — one query string to one Catalyst "
    "plan over parquet tiers; NULL-ignoring trailing mean and exact "
    "x2 scale, replayed with the rounding guard",
)
def q_render_chain_over_store(spark, sf_dir):
    from kenshin_spark.functions.render import apply_chain
    from kenshin_spark.functions.targets import parse_target

    st = _store(spark, sf_dir, "render_chain_store")
    st.upsert(0, _week_slots(spark, sf_dir))
    glob, chain = parse_target("scale(movingAverage({c*,e*},3),2)")
    grid = st.fetch_glob(glob, CUT - 86400, CUT, CUT)
    out = apply_chain(grid, chain)
    return out.select(
        "metric", "ts",
        (F.round(F.col("value") * 1000000) / 1000000).alias("value"),
    )


@register(
    "render_holt_aberration_counts",
    f"""
    SELECT metric,
           CAST(count(*) AS BIGINT) AS n_slots,
           CAST(sum(aberrant) AS BIGINT) AS n_aberrant
    FROM ({_REG["render_holt_forecast"].oracle}) h
    GROUP BY 1
    """,
    "holtWintersAberration rolled up: per metric, how many tier0 "
    "slots fall outside the Holt-linear confidence band — the alert "
    "volume a threshold-tuning pass reads; derived from the "
    "registry's replayable double-exponential recursion so the counts "
    "hash-check",
)
def q_render_holt_aberration_counts(spark, sf_dir):
    out = _REG["render_holt_forecast"].fn(spark, sf_dir)
    return out.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n_slots"),
        F.sum(F.col("aberrant").cast("long")).alias("n_aberrant"),
    )


@register(
    "render_group_node_max",
    f"""
    WITH pts AS ({PTS}), t0 AS (
      SELECT metric, ts - ts % 60 AS ts, arg_max(value, arrival) AS value
      FROM pts GROUP BY 1, 2
    ),
    tagged AS (
      SELECT 'dc' || CAST(ts % 2 AS VARCHAR) || '.' || metric AS metric,
             ts, value
      FROM t0
    )
    SELECT string_split(metric, '.')[1] AS metric, ts,
           max(value) AS value
    FROM tagged GROUP BY 1, 2
    """,
    "graphite groupByNode(0, 'max') over a dotted namespace: series "
    "re-keyed to their datacenter prefix and folded per slot by max "
    "(exact comparisons — the NULL-ignoring envelope, not the "
    "float-sum variant) — the fleet-rollup the render API serves",
)
def q_render_group_node_max(spark, sf_dir):
    from kenshin_spark.functions.render import group_by_node
    from kenshin_spark.operators.align import last_write_wins

    t0 = last_write_wins(_points(spark, sf_dir), 60, arrival_col="arrival")
    tagged = t0.select(
        F.concat(
            F.lit("dc"), (F.col("ts") % 2).cast("string"),
            F.lit("."), F.col("metric"),
        ).alias("metric"),
        "ts", "value",
    )
    return group_by_node(tagged, 0, "max")
