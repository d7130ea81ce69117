"""The deployment-aware lineage-pin seam (session.pin).

VERDICT r11 item 5: all the localCheckpoint pin sites route through one
helper that picks localCheckpoint under a local master and a reliable
checkpoint / replicated local checkpoint on a cluster — these tests
assert the local-mode choice (byte-identical to the former direct
calls), the conf override paths and that every mode cuts lineage,
without needing a real cluster.
"""

import pytest
from pyspark.sql import functions as F

from kenshin_spark.session import PIN_MODE_CONF, pin


def _is_local_checkpoint(df) -> bool:
    # a localCheckpoint result plans as a scan over an ExistingRDD /
    # LogicalRDD — no trace of the original parquet/range lineage
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LogicalRDD" in plan


def test_pin_local_mode_uses_local_checkpoint(spark):
    assert spark.sparkContext.master.startswith("local")
    df = pin(spark.range(100).select(F.col("id") * 2), eager=True)
    assert _is_local_checkpoint(df)
    assert df.count() == 100


def test_pin_lazy_matches_eager_rows(spark):
    base = spark.range(50).select((F.col("id") % 7).alias("k"))
    lazy = pin(base, eager=False)
    assert sorted(r["k"] for r in lazy.collect()) == sorted(
        r["k"] for r in base.collect()
    )
    assert _is_local_checkpoint(lazy)


def test_pin_replicated_mode_persists_and_keeps_rows(spark):
    spark.conf.set(PIN_MODE_CONF, "replicated")
    try:
        df = pin(spark.range(10), eager=True)
    finally:
        spark.conf.unset(PIN_MODE_CONF)
    # the 2x replica is the storage level of the RDD the leaf scans
    level = df._jdf.queryExecution().logical().rdd().getStorageLevel()
    assert level.replication() == 2 and level.useDisk()
    assert df.count() == 10


@pytest.mark.parametrize("eager", [True, False])
@pytest.mark.parametrize("mode", ["local", "reliable", "replicated"])
def test_pin_cuts_lineage_in_every_mode(spark, tmp_path, mode, eager):
    """Every mode returns a frame whose logical plan is one leaf (an
    iterative caller's plan does not grow per round) over the same
    rows."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    base = (
        spark.range(40)
        .select((F.col("id") % 7).alias("k"), F.col("id"))
        .where("id % 3 <> 0")
    )
    spark.conf.set(PIN_MODE_CONF, mode)
    try:
        df = pin(base, eager=eager)
    finally:
        spark.conf.unset(PIN_MODE_CONF)
    assert df._jdf.queryExecution().logical().children().isEmpty()
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_session_cleans_reliable_checkpoints(spark):
    """Reliable pins write RDD checkpoints; the ContextCleaner deletes
    them only when this conf is on, so a long-running driver would
    otherwise leak checkpoint files without bound."""
    key = "spark.cleaner.referenceTracking.cleanCheckpoints"
    assert spark.sparkContext.getConf().get(key) == "true"


def test_pin_unknown_mode_raises(spark):
    spark.conf.set(PIN_MODE_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match="pin.mode"):
            pin(spark.range(1))
    finally:
        spark.conf.unset(PIN_MODE_CONF)


def test_pin_reliable_mode_checkpoints(spark, tmp_path):
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(PIN_MODE_CONF, "reliable")
    try:
        df = pin(spark.range(25), eager=True)
        assert df.count() == 25
        assert _is_local_checkpoint(df)  # checkpoint also plans as RDD scan
    finally:
        spark.conf.unset(PIN_MODE_CONF)
