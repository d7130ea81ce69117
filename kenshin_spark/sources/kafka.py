"""Kafka source builders — the production ingest path (SURVEY §2.1 S1/S2).

The reference listens on TCP ports 2003 (line) / 2004 (pickle)
(rurouni/conf.py:18-19, rurouni/protocols.py:31-62). At production scale
the Spark-native replacement is Kafka: partitioned, replayable, and the
natural checkpointable source for Structured Streaming. These builders
return the configured streaming DataFrames ready for
``StreamingIngest.start_lines`` / the pickle deserializer.

This container has no Kafka broker or connector JAR, so the builders are
construction-only here (exercised for config correctness in tests); on a
real cluster add ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def kafka_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """The reader option set, as a plain dict (testable without a broker
    or connector JAR). ``maxOffsetsPerTrigger`` bounds micro-batch size —
    the backpressure analog of the reference's 2 MB receive cap
    (rurouni/protocols.py:46)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
):
    """A ``readStream`` builder carrying :func:`kafka_options`."""
    return spark.readStream.format("kafka").options(
        **kafka_options(
            bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
        )
    )


def kafka_lines(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "metrics-lines",
    **kwargs,
) -> DataFrame:
    """S1 over Kafka: one line-protocol string per record → a ``value``
    string column, drop-in for ``StreamingIngest.start_lines``."""
    return (
        kafka_reader(spark, bootstrap_servers, topic, **kwargs)
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )

