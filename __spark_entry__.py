"""Driver contract for the spark-graft builder (PySpark target).

Backed by the ``kenshin_spark`` package — a PySpark-native engine with the
query/data-processing capabilities of douban/Kenshin plus LLM-data-pipeline
operators. Each ``queries()`` entry is one operator from SURVEY.md §2 (or
the driver's extension list); ``oracle_sql()`` carries the DuckDB twin.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kenshin_spark.queries import QUERIES, driver_order  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on the sf0.001 events: the shipped write and read
    paths end to end — ingest events as points into a temporary
    tiered store with one ``StreamingIngest.process_batch`` on a clock
    fixed at the newest point, then ``store.fetch`` a 24 h window as a
    NULL-filled regular grid (SURVEY §3.2). The grid is pinned before
    the store is removed, so it reads no deleted file and nothing is
    left on disk."""
    # the driver may pass a session without our parquet-nanos setting
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kenshin_spark.config import SchemaSet
    from kenshin_spark.io import load_table
    from kenshin_spark.queries import TS_SCHEMA
    from kenshin_spark.session import pin
    from kenshin_spark.sources import events_as_points
    from kenshin_spark.streaming.ingest import StreamingIngest

    sf_dir = "/root/testdata/sf0.001"
    points = events_as_points(load_table(spark, sf_dir, "events"))
    now = int(points.agg(F.max("ts")).collect()[0][0])
    root = tempfile.mkdtemp(prefix="kenshin_entry_")
    try:
        ingest = StreamingIngest(
            spark, SchemaSet((TS_SCHEMA,)), root, clock=lambda: now
        )
        ingest.process_batch(points, 0)
        grid = ingest.store_for(TS_SCHEMA).fetch(
            points.select("metric").distinct(), now - 86400, now, now
        )
        return pin(grid, eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so queries without a prior driver CORRECTNESS row come first
    (the driver evaluates a bounded prefix of this dict); long-verified
    queries follow, regression-guarded by tests/test_queries_oracle.py.
    """

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return fn(spark, sf_dir)

        return run

    return {name: wrap(QUERIES[name].fn) for name in driver_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable twins; omitted entries get the rows-only check."""
    return {
        name: QUERIES[name].oracle
        for name in driver_order()
        if QUERIES[name].oracle
    }
