"""The ingest census (``StreamingIngest._census``) against the
multi-distinct aggregate it replaced.

The reference below is the former one-level census: one
``count(DISTINCT struct(metric, slot))`` per archive plus the new-metric
``count(DISTINCT metric)``, which Spark plans as an Expand. It is kept
here, test-local, as the contract: on every census ``process_batch``
takes — the combined pass and the rate-limited recompute — the
two-level census must give the same counters, slot counts, bounds and
touched-day sets.
"""

import re

import pytest
from pyspark.sql import functions as F

from kenshin_spark.config import Schema, SchemaSet
from kenshin_spark.quality import in_range
from kenshin_spark.ratelimit import FakeClock
from kenshin_spark.streaming import StreamingIngest
from kenshin_spark.streaming.ingest import _arch_cond

SCHEMAS = SchemaSet(
    (
        Schema.from_strings("fast", "^fast", "10s:1h,60s:1d", xff=1.0,
                            agg_method="sum"),
        Schema.from_strings("slow", ".*", "60s:1d,300s:7d", xff=1.0,
                            agg_method="average"),
    )
)
NOW = 1_000_000
H, D = 3600, 86400


def reference_census(ing, frame, schema_col, age, clean=None,
                     counters=None, new=None):
    """The one-level multi-distinct census, as the ingest computed it
    before the two-level rewrite."""
    if clean is None:
        clean = F.lit(True)
    aggs = [
        F.count(F.when(c, 1)).alias(n) for n, c in (counters or {}).items()
    ]
    if new is not None:
        aggs.append(
            F.count_distinct(F.when(new, F.col("metric"))).alias("_new")
        )
    for schema in ing.schemas.schemas:
        in_schema = clean & (F.col(schema_col) == schema.name)
        for i, arch in enumerate(schema.archives):
            step = arch.sec_per_point
            cond = in_schema & _arch_cond(schema, i, age)
            ts = F.col("ts").cast("long")
            slot = ts - (ts % F.lit(step))
            label = f"{schema.name}_{i}"
            aggs += [
                F.count(F.when(cond, 1)).alias(f"_c_{label}"),
                F.count_distinct(
                    F.when(cond, F.struct(F.col("metric"), slot))
                ).alias(f"_n_{label}"),
                F.min(F.when(cond, slot)).alias(f"_lo_{label}"),
                F.max(F.when(cond, slot)).alias(f"_hi_{label}"),
            ]
            unit = ing.store_for(schema).part_unit(i)
            assert unit % step == 0  # raw-ts day == aligned-slot day
            aggs.append(
                F.collect_set(
                    F.when(cond, ts / unit).cast("long")
                ).alias(f"_d_{label}")
            )
        aggs.append(
            F.count(
                F.when(
                    in_schema & (age > F.lit(schema.archives[-1].retention)),
                    1,
                )
            ).alias(f"_x_{schema.name}")
        )
    return frame.agg(*aggs)


def normalise(row):
    return {
        k: sorted(v) if isinstance(v, list) else v
        for k, v in row.asDict().items()
    }


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def points(spark, rows):
    return spark.createDataFrame(
        rows, "metric string, ts long, value double, corrupt string"
    )


@pytest.fixture
def ingest(spark, tmp_path):
    return StreamingIngest(
        spark, SCHEMAS, str(tmp_path / "store"),
        max_creates_per_minute=3, clock=FakeClock(NOW),
        quality_checks=[in_range("value", 0.0, 1e6)],
    )


def census_calls(ingest, monkeypatch):
    """Run every census ``process_batch`` takes through the reference
    too; returns a list of ``(schema_col, kwargs, row, reference row)``."""
    calls = []
    real = StreamingIngest._census

    def spy(self, frame, schema_col, age, **kw):
        got = real(self, frame, schema_col, age, **kw)
        want = reference_census(self, frame, schema_col, age, **kw)
        calls.append((schema_col, kw, got.first(), want.first()))
        return got

    monkeypatch.setattr(StreamingIngest, "_census", spy)
    return calls


def test_census_equals_the_multi_distinct_reference(
    spark, ingest, monkeypatch
):
    calls = census_calls(ingest, monkeypatch)
    # batch 0 catalogues fast.a and slow.a (2 of the bucket's 3 tokens)
    ingest.process_batch(points(spark, [
        ("fast.a", NOW - 100, 1.0, None),
        ("slow.a", NOW - 100, 1.0, None),
    ]), 0)
    # batch 1: both schemas, catalogued and new metrics (three new, one
    # token left: fast.b is admitted, slow.b and slow.c are denied, so
    # the census is recomputed over the routed frame), corrupt lines,
    # quality rejections, in-batch duplicates, every archive and points
    # older than every archive
    ingest.process_batch(points(spark, [
        ("fast.a", NOW - 100, 2.0, None),
        ("fast.a", NOW - 100, 3.0, None),    # duplicate point
        ("fast.a", NOW - 95, 4.0, None),     # same 10 s slot
        ("fast.a", NOW - 2 * H, 5.0, None),  # fast tier 1
        ("fast.a", NOW - 2 * H + 5, 5.5, None),
        ("fast.a", NOW - 2 * D, 6.0, None),  # past fast's last archive
        ("fast.b", NOW - 30, 7.0, None),
        ("fast.b", NOW - 3 * H, 7.5, None),
        ("slow.a", NOW - 100, 8.0, None),
        ("slow.a", NOW - 70, 8.5, None),     # same 60 s slot
        ("slow.a", NOW - 2 * D, 9.0, None),  # slow tier 1
        ("slow.a", NOW - 2 * D - 60, 9.5, None),
        ("slow.a", NOW - 8 * D, 10.0, None),  # past slow's last archive
        ("slow.b", NOW - 300, 11.0, None),
        ("slow.c", NOW - 3 * D, 12.0, None),
        ("slow.a", NOW - 50, -1.0, None),    # quality rejection
        ("fast.b", NOW - 50, -2.0, None),    # quality rejection
        (None, None, None, "not a line"),    # corrupt
        ("slow.a", None, None, "slow.a x"),  # corrupt
    ]), 1)
    assert ingest.stats.dropped_creates == 2

    paths = [(col, "new" in kw) for col, kw, _, _ in calls]
    assert paths == [("_schema", True), ("_schema", True),
                     ("schema_name", False)]
    for _, _, got, want in calls:
        want = normalise(want)
        got = normalise(got)
        assert {k: got[k] for k in want} == want
        assert set(got) == set(want)
    combined, limited = normalise(calls[1][3]), normalise(calls[2][3])
    # the fixture reaches what it claims to
    assert (combined["_bad"], combined["_rej"], combined["_new"]) == (2, 2, 3)
    assert combined["_c_fast_0"] > combined["_n_fast_0"]  # duplicates
    assert combined["_c_slow_0"] > combined["_n_slow_0"]
    for c in ("_c_fast_1", "_c_slow_1", "_x_fast", "_x_slow"):
        assert combined[c] > 0 and limited[c] > 0, c
    assert limited["_c_slow_0"] < combined["_c_slow_0"]  # denied slow.b
    assert limited["_c_slow_1"] < combined["_c_slow_1"]  # denied slow.c
    # what the stats took from the census
    assert ingest.stats.corrupt_lines == 2
    assert ingest.stats.quality_rejected == 2
    assert ingest.stats.dropped_old_points == 2
    assert ingest.stats.committed_points == 2 + sum(
        limited[f"_n_{s}_{i}"] for s in ("fast", "slow") for i in (0, 1)
    )


def test_census_plans_no_expand(spark, ingest):
    frame = points(spark, [("fast.a", NOW - 100, 1.0, None)]).withColumn(
        "_schema", F.lit("fast")
    )
    age = F.lit(NOW) - F.col("ts")
    kw = dict(counters={"_all": F.lit(True)},
              new=F.col("metric").isNotNull())
    plan = plan_of(ingest._census(frame, "_schema", age, **kw))
    assert "Expand" not in plan
    # two shuffles: the metric repartition that every level below the
    # final merge runs inside, and that merge
    assert 0 < len(set(re.findall(r"\bExchange \((\d+)\)", plan))) <= 2
    # the plan check can see one: the reference plans an Expand
    assert "Expand" in plan_of(
        reference_census(ingest, frame, "_schema", age, **kw)
    )
