"""W5 — timestamp alignment + last-write-wins deduplication.

Reference semantics (kenshin/storage.py:427-445): incoming points are
aligned down to the archive step (``ts -= ts % step``); among duplicates in
the same slot the engine keeps one value (the reference keeps the tuple
sorting last within a batch; the ring cache overwrites with the newest
arrival, rurouni/cache.py:278). We spec arrival-order last-write-wins, keyed
by an explicit ``arrival`` column (SURVEY §7.3).

Spark-first: one shuffle on (metric, slot_ts) with map-side partial
aggregation — ``max_by`` is a built-in JVM aggregate, so the whole plan is
whole-stage-codegen'd; no Python in the hot path. At 100 TB the shuffle is
keyed by (metric, slot), which is also the natural storage partitioning, so
downstream tier writes reuse the layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def align_ts(ts: Column, step: int) -> Column:
    """``ts - ts % step`` (kenshin/storage.py:429) — integer epoch math."""
    return ts - (ts % F.lit(step))


def last_write_wins(
    df: DataFrame,
    step: int,
    arrival_col: str | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
    skew_salts: int | None = None,
) -> DataFrame:
    """Align to ``step`` and keep one value per (metric, slot).

    ``arrival_col`` orders duplicates (newest arrival wins,
    rurouni/cache.py:264-280); when None, the raw timestamp orders them:
    the point with the later raw ts wins its slot. That is the engine's
    rule, pinned by ``perfbench/oracle.py``; the reference instead keeps
    the tuple sorting last, i.e. the larger value
    (kenshin/storage.py:441-444), and ``test_update_old_points`` in
    ``tests/test_storage_goldens.py`` shows the two apart (PARITY W5).

    ``skew_salts``: the SURVEY §7.3 hot-key path. Spark's map-side
    partial aggregation already absorbs most metric skew, but when one
    (metric, slot) is hot enough that even its partials overload a
    reducer (or partial agg falls back), a deterministic salt spreads
    stage 1 over ``skew_salts`` reducers and stage 2 merges the partial
    winners — ``max_by`` is algebraic, so the decomposition is exact:
    the winner of the winners is the global winner (same tie semantics
    as the single-stage form when order keys repeat).

    Returns ``(metric, ts, value)`` with ts aligned.
    """
    order_col = arrival_col or ts_col
    slot = align_ts(F.col(ts_col).cast("long"), step).alias(ts_col)
    if skew_salts:
        from kenshin_spark.operators.skew import with_salt

        stage1 = (
            with_salt(df, skew_salts)
            .groupBy(F.col("metric"), slot, F.col("_salt"))
            .agg(
                F.expr(f"max_by({value_col}, {order_col})").alias("_v"),
                F.max(order_col).alias("_o"),
            )
        )
        return stage1.groupBy("metric", ts_col).agg(
            F.expr("max_by(_v, _o)").alias(value_col)
        )
    return df.groupBy(F.col("metric"), slot).agg(
        F.expr(f"max_by({value_col}, {order_col})").alias(value_col)
    )
