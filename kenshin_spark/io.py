"""Table loading helpers for the driver's synthetic testdata.

The testdata parquet stores event-time as TIMESTAMP(NANOS); with
``spark.sql.legacy.parquet.nanosAsLong=true`` those columns arrive as
BIGINT nanoseconds. ``load_table`` normalizes every such column back to a
proper TimestampType (microsecond precision, matching what DuckDB sees) so
downstream code is engine-agnostic.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nano_ts_columns(path: str) -> list[str]:
    """Column names stored as TIMESTAMP(NANOS) in the parquet footer."""
    schema = pq.read_schema(path)
    cols = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            cols.append(field.name)
    return cols


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for c in _nano_ts_columns(path):
        # BIGINT nanos → TimestampType via `div` (integer division —
        # `/` is double arithmetic in Spark, and epoch nanos ~1.7e18
        # exceed 2^53, so float division can be off by a microsecond vs
        # DuckDB's exact truncation).
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df
