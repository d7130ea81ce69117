"""Steady-state ingest reuses the driver's generated code.

Spark compiles each generated class (whole-stage pipelines,
projections, orderings) with Janino and caches it by source text. A
micro-batch re-plans the same operators every batch, so once the
session is warm a batch should compile only the classes that inline a
per-batch literal: the mor ``_seq`` stamp of each write and the
propagation range bound of ``read_range``'s filter. The compile count
comes from Spark's own ``CodegenMetrics`` histogram, which counts every
Janino compile in the driver JVM.
"""

from pyspark.sql import functions as F

from kenshin_spark.config import Schema, SchemaSet
from kenshin_spark.ratelimit import FakeClock
from kenshin_spark.session import CONTEXT_CONF, unbound_confs
from kenshin_spark.streaming import StreamingIngest

SCHEMAS = SchemaSet(
    (Schema.from_strings("s", ".*", "60s:1d,300s:7d,3600s:90d",
                         agg_method="average"),)
)
NOW = 1_767_268_800
H, D = 3600, 86400
#: third-batch compiles allowed. Measured on local[4] in a fresh
#: session, compiles per batch: 108, 24, 10 with the two-level census
#: and a 1,000-entry class cache; 113, 74, 74 with the multi-distinct
#: census and Spark's default 100 entries.
MAX_STEADY_COMPILES = 20


def compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def batch(spark, b: int):
    """Batch ``b``: catalogued metrics in tier 0, tier 1 and past every
    archive, plus creates (metrics no earlier batch carried)."""
    rows = []
    for j in range(20):
        m = f"m.{j}"
        rows += [
            (m, NOW - 600 + 60 * b + j, float(j), None),
            (m, NOW - 2 * D - 60 * b, float(b), None),  # aged: tier 1
            (m, NOW - 100 * D, 1.0, None),              # past tier 2
        ]
    rows += [(f"new.{b}.{j}", NOW - 300, 1.0, None) for j in range(5)]
    rows.append((None, None, None, "not a line"))
    return spark.createDataFrame(
        rows, "metric string, ts long, value double, corrupt string"
    )


def test_third_batch_compiles_only_per_batch_literals(spark, tmp_path):
    ing = StreamingIngest(spark, SCHEMAS, str(tmp_path / "st"),
                          clock=FakeClock(NOW))
    deltas = []
    for b in range(3):
        before = compiles(spark)
        ing.process_batch(batch(spark, b), b)
        deltas.append(compiles(spark) - before)
    assert ing.stats.creates == 20 + 5 * 3
    assert ing.stats.dropped_old_points == 20 * 3
    assert deltas[-1] <= MAX_STEADY_COMPILES, deltas


def test_repeated_census_compiles_nothing(spark, tmp_path):
    ing = StreamingIngest(spark, SCHEMAS, str(tmp_path / "st"),
                          clock=FakeClock(NOW))
    age = F.lit(NOW) - F.col("ts")

    def census(b):
        frame = batch(spark, b).withColumn("_schema", F.lit("s"))
        clean = F.col("corrupt").isNull()
        return ing._census(
            frame, "_schema", age, clean=clean,
            counters={"_all": F.lit(True),
                      "_bad": F.col("corrupt").isNotNull()},
            new=clean & F.col("metric").startswith("new."),
        ).first()

    first = census(0)
    before = compiles(spark)
    again = census(1)
    assert compiles(spark) - before == 0
    assert (first["_all"], first["_new"]) == (again["_all"], again["_new"])


def test_unbound_confs_names_each_mismatch():
    wanted = {"a": "1", "b": "x", "c": "true"}
    assert unbound_confs(wanted, {"a": "1", "b": "x", "c": "true"}) == []
    assert unbound_confs(wanted, {"a": "2", "b": "x", "z": "0"}) == [
        "a='2' (wants '1')",
        "c=None (wants 'true')",
    ]


def test_session_binds_the_context_confs(spark):
    running = dict(spark.sparkContext.getConf().getAll())
    assert unbound_confs(CONTEXT_CONF, running) == []
