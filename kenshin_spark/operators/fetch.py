"""R1-R3 — fetch: range scan, archive selection, regular-grid materialization.

Reference entry point ``kenshin.fetch(path, from, until, now)``
(kenshin/__init__.py:14-19 → kenshin/storage.py:617-694):

1. clamp [from, until] to [now - max_retention, now]; reject inverted
   ranges; None if the window is entirely outside retention
   (kenshin/storage.py:622-644);
2. pick the FINEST archive whose retention covers ``now - from`` — query
   *age*, not span, decides resolution (kenshin/storage.py:639-642);
3. round from/until up to the step and emit exactly
   ``(until - from) / step`` slots, NULL for missing
   (kenshin/storage.py:646-660,681-694).

Spark-first: the range scan is a partition-prunable filter; the grid is
``sequence() + explode`` left-joined with the points — all JVM built-ins.
The per-metric grid join broadcasts the (tiny) metric×slot frame only when
the requested window is small; for wide windows it is a co-partitioned
sort-merge join on (metric, ts), the table's natural layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kenshin_spark.config import Archive


def roundup(ts: int, step: int) -> int:
    """Round up to the next step boundary (kenshin/utils.py:32-44).

    >>> roundup(10, 4)
    12
    >>> roundup(12, 4)
    12
    """
    return ((ts + step - 1) // step) * step


def select_archive(archives: list[Archive], from_time: int, now: int) -> int:
    """R2 — index of the finest archive whose retention covers the query age
    (kenshin/storage.py:639-642). Raises if none covers it (caller clamps
    first, so the last archive always qualifies after clamping)."""
    age = now - from_time
    for i, a in enumerate(archives):
        if a.retention >= age:
            return i
    return len(archives) - 1


def clamp_range(
    from_time: int, until_time: int, now: int, max_retention: int
) -> tuple[int, int] | None:
    """R1 — the reference's time clamping (kenshin/storage.py:622-644).

    Returns the clamped (from, until) or None when the window is entirely
    outside retention. Inverted ranges raise.
    """
    if until_time <= from_time:
        raise ValueError(f"until ({until_time}) must be > from ({from_time})")
    oldest = now - max_retention
    if from_time > now:
        return None
    if until_time < oldest:
        return None
    from_time = max(from_time, oldest)
    until_time = min(until_time, now)
    return from_time, until_time


def grid_fill(
    points: DataFrame,
    metrics: DataFrame | list[str],
    from_time: int,
    until_time: int,
    step: int,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """R3 — materialize the regular grid ``[from, until) @ step`` per metric,
    NULL-filling missing slots (kenshin/storage.py:646-660,681-694).

    ``metrics`` is either an explicit name list or a 1-column ``metric``
    DataFrame (e.g. the catalog); an empty series yields an all-NULL grid,
    matching the reference's empty-file short-circuit
    (kenshin/storage.py:655-660).
    """
    spark = points.sparkSession
    from_r = roundup(from_time, step)
    until_r = roundup(until_time, step)
    if isinstance(metrics, list):
        import pyarrow as pa

        # an Arrow table is a local relation: no pickled-row RDD, no
        # Python worker, and an empty list keeps its `metric string` schema
        metrics_df = spark.createDataFrame(
            pa.table({"metric": pa.array(metrics, pa.string())})
        )
    else:
        metrics_df = metrics.select("metric").distinct()

    if until_r <= from_r:
        # zero-width window after rounding (e.g. a sub-step query window
        # containing no step boundary): the reference returns an empty
        # series (kenshin/storage.py:646-660); sequence() would raise on
        # the descending bounds.
        return (
            metrics_df.select(
                "metric",
                F.lit(None).cast("long").alias(ts_col),
                F.lit(None).cast("double").alias(value_col),
            )
            .where(F.lit(False))
        )

    grid = metrics_df.select(
        "metric",
        F.explode(
            F.sequence(F.lit(from_r), F.lit(until_r - step), F.lit(step))
        ).alias(ts_col),
    )
    pts = points.where(
        (F.col(ts_col) >= F.lit(from_r)) & (F.col(ts_col) < F.lit(until_r))
    ).select("metric", ts_col, value_col)
    return grid.join(pts, ["metric", ts_col], "left").select(
        "metric", F.col(ts_col).cast("long").alias(ts_col), value_col
    )


def fetch(
    tiers: list[DataFrame],
    archives: list[Archive],
    metrics: DataFrame | list[str],
    from_time: int,
    until_time: int,
    now: int,
) -> DataFrame | None:
    """The full read path: clamp → tier select → prune scan → grid fill.

    Returns a ``(metric, ts, value)`` grid DataFrame at the selected tier's
    resolution, or None if the window is entirely outside retention —
    multi-metric and distributed, semantics otherwise identical to
    kenshin/storage.py:617-694.
    """
    clamped = clamp_range(from_time, until_time, now, archives[-1].retention)
    if clamped is None:
        return None
    from_time, until_time = clamped
    idx = select_archive(archives, from_time, now)
    step = archives[idx].sec_per_point
    return grid_fill(tiers[idx], metrics, from_time, until_time, step)
