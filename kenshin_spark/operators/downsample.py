"""W7/W8 — write-time downsampling ("propagation") as cascaded aggregations.

Reference: after updating archive i, the affected window is re-aggregated
into archive i+1, recursively (kenshin/storage.py:482-586); the aggregation
kernel drops NULL sentinels per window and yields NULL for all-null windows
(kenshin/storage.py:588-615). The reference gates that cadence by the
repurposed xFilesFactor timeunit (kenshin/storage.py:505-521); the store
does not: ``ParquetTieredStore.propagate`` re-aggregates every coarse
slot a batch touches, in that batch (PARITY W8). On the write path
``xff`` only validates archive lists; ``ready_propagation_slots`` (row
``ts_propagation_ready``) computes the reference's gate.

Spark-first: each tier is ``groupBy(metric, window_slot).agg(fn)`` over the
previous tier — a single shuffle per tier, map-side partial aggregation,
NULL handling free from Spark's built-in aggregates. Tier i+1 aggregates
tier i's *points* (not raw), exactly like the reference propagates from the
finer archive — so ``average`` is an average of finer averages, by design.

Scale notes: the cascade input shrinks ~ppc× per tier, so tier jobs after
the first are cheap; grouping keys reuse the (metric, ts) layout so AQE can
coalesce. No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kenshin_spark.config import AGG_SQL, Archive, propagation_timeunit
from kenshin_spark.operators.align import align_ts


def downsample(
    df: DataFrame,
    step: int,
    agg_method: str = "average",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """One tier: aggregate points into ``step``-wide slots.

    Window identity is the aligned-down slot start (kenshin/storage.py:429,
    518-521); the agg fn ignores NULLs and returns NULL for all-null slots
    (kenshin/storage.py:599-615 — Spark built-ins match exactly).
    """
    agg_expr = AGG_SQL[agg_method].format(v=value_col, t=ts_col)
    return df.groupBy(
        F.col("metric"),
        align_ts(F.col(ts_col).cast("long"), step).alias(ts_col),
    ).agg(F.expr(agg_expr).alias(value_col))


def cascade(
    tier0: DataFrame,
    archives: list[Archive],
    agg_method: str = "average",
) -> list[DataFrame]:
    """Materialize the full archive cascade from aligned tier-0 points.

    Returns one DataFrame per archive; archive i+1 is a downsample of
    archive i — the reference's propagation chain
    (kenshin/storage.py:482-492) expressed as a declarative plan per tier.
    Callers persist each tier (partitioned Parquet) so fetch reads one tier.
    """
    tiers = [tier0]
    for coarse in archives[1:]:
        tiers.append(downsample(tiers[-1], coarse.sec_per_point, agg_method))
    return tiers


def ready_propagation_slots(
    df: DataFrame,
    high_step: int,
    low_step: int,
    xff: float,
    now: int,
    ts_col: str = "ts",
) -> DataFrame:
    """W8 — which coarse slots are ready to propagate under xff batching.

    The reference propagates fine→coarse at most once per
    ``timeunit = ceil(low_step/high_step * xff) * high_step``
    (kenshin/storage.py:505-521): a coarse slot is propagated when the
    current timeunit boundary has moved past it. Returns the distinct coarse
    slot starts with ``slot_end <= now - now % timeunit`` — the batch a
    scheduler would re-aggregate this trigger.
    """
    timeunit = propagation_timeunit(xff, high_step, low_step)
    boundary = now - now % timeunit
    return (
        df.select(
            F.col("metric"),
            align_ts(F.col(ts_col).cast("long"), low_step).alias("slot_ts"),
        )
        .where(F.col("slot_ts") + low_step <= F.lit(boundary))
        .distinct()
    )
