"""One ingest micro-batch lands its whole tier cascade in one commit.

``StreamingIngest.process_batch`` writes a schema's tier-0 slots, the
points old enough to route straight to a coarser archive (W4), and the
re-aggregate of every coarse slot they touch (W7) in one staged write
and one manifest commit of the schema store
(``ParquetTieredStore.write_tiers``). The contract:

- each call adds exactly one commit to the schema store;
- at every committed seq, each coarse tier is the downsample of its
  finer tier over the slots the cascade wrote;
- the final state equals the former per-archive sequence — upsert the
  archive, then propagate it through the coarser ones, one commit each —
  kept here, test-local, as the reference;
- a crash after the files are staged and before the commit changes no
  read, a re-run reaches the no-crash state, and ``vacuum`` reclaims
  the stranded files.

Each check also runs on a root whose first batch is stored in the
retired copy-on-write layout (unstamped, one row per slot): the later
batches must win their slots over those rows and cascade from them.
"""

import os
import time

import pytest
from pyspark.sql import functions as F

from _writers import write_cow_layout
from kenshin_spark.config import SchemaSet, Schema
from kenshin_spark.operators.align import align_ts, last_write_wins
from kenshin_spark.store import ParquetTieredStore
from kenshin_spark.streaming.ingest import StreamingIngest, _arch_cond

#: tier 0 and tier 1 partition hourly, tier 2 daily
SCHEMA = Schema.from_strings(
    "c", ".*", "60s:1h,300s:1d,3600s:7d", xff=1.0, agg_method="sum"
)
NOW = 1_000_050
LAYOUTS = ("cow", "mor")
#: NOW - 3600 (the tier-0 retention edge) falls inside tier-1 slot
#: 996_300, which sits in tier-2 slot 993_600: tier-0 points and aged
#: tier-1 points below share both
BATCHES = [
    [
        ("m", 996_480, 1.0),    # tier 0 (age 3570)
        ("m", 996_540, 2.0),    # tier 0, same tier-1 slot
        ("m", 999_990, 4.0),    # tier 0, another tier-2 slot
        ("m", 996_420, 8.0),    # tier 1 (age 3630): slot 996_300
        ("m", 995_000, 16.0),   # tier 1: slot 994_800, tier-2 993_600
        ("n", 996_480, 32.0),   # tier 0
    ],
    [
        ("m", 996_480, 64.0),   # overwrites a tier-0 slot
        ("m", 996_600, 128.0),  # tier 0, a new tier-1 slot
        ("m", 996_300, 256.0),  # tier 1: overwrites the aged slot
        ("n", 990_000, 512.0),  # tier 1: tier-2 slot 986_400
    ],
]
#: tier-1 slots a batch wrote directly (not as a downsample)
DIRECT_TIER1 = {("m", 996_300), ("m", 994_800), ("n", 990_000)}


def frame(spark, rows):
    return spark.createDataFrame(rows, "metric string, ts long, value double")


def tiers(store, version=None):
    return [
        {(r["metric"], r["ts"]): r["value"]
         for r in store.read(i, version=version).collect()}
        for i in range(len(SCHEMA.archives))
    ]


def reference_batch(store, batch):
    """The former write path: per routed archive, upsert its LWW slots,
    then propagate them through every coarser archive, re-aggregating
    each touched coarse slot from the finer tier — one commit per
    tier write."""
    age = F.lit(NOW) - F.col("ts")
    for i, arch in enumerate(SCHEMA.archives):
        slots = last_write_wins(
            batch.where(_arch_cond(SCHEMA, i, age)), arch.sec_per_point
        )
        if slots.isEmpty():
            continue
        store.upsert(i, slots)
        for j in range(i + 1, len(SCHEMA.archives)):
            step = SCHEMA.archives[j].sec_per_point
            touched = slots.select(
                "metric", align_ts(F.col("ts"), step).alias("slot")
            ).distinct()
            finer = store.read(j - 1)
            re_agg = (
                finer.join(
                    touched,
                    (finer["metric"] == touched["metric"])
                    & (align_ts(finer["ts"], step) == touched["slot"]),
                    "left_semi",
                )
                .groupBy("metric", align_ts(F.col("ts"), step).alias("ts"))
                .agg(F.sum("value").alias("value"))
            )
            store.upsert(j, re_agg)


def reference_tiers(spark, root):
    store = ParquetTieredStore(spark, SCHEMA, root)
    for rows in BATCHES:
        reference_batch(store, frame(spark, rows))
    return tiers(store)


def start(spark, tmp_path, layout):
    """The ingest, its schema store and the batches left to process:
    all of them on an empty root (``mor``), or the rest after the first
    batch's tiers are committed in the retired cow layout (``cow``)."""
    ing = StreamingIngest(
        spark, SchemaSet((SCHEMA,)), str(tmp_path / "ing"),
        clock=lambda: NOW,
    )
    store = ing.store_for(SCHEMA)
    if layout == "mor":
        return ing, store, BATCHES
    seed = ParquetTieredStore(spark, SCHEMA, str(tmp_path / "seed"))
    reference_batch(seed, frame(spark, BATCHES[0]))
    write_cow_layout(
        store, {i: seed.read(i) for i in range(len(SCHEMA.archives))}
    )
    return ing, store, BATCHES[1:]


def downsample(rows, step):
    out = {}
    for (m, ts), v in rows.items():
        key = (m, ts - ts % step)
        out[key] = out.get(key, 0.0) + v
    return out


@pytest.mark.parametrize("layout", LAYOUTS)
def test_cascade_lands_in_one_commit(spark, tmp_path, layout):
    ing, store, batches = start(spark, tmp_path, layout)
    seqs = []
    for b, rows in enumerate(batches):
        before = store.commit.epoch()
        ing.process_batch(frame(spark, rows), b)
        assert store.commit.epoch() == before + 1
        seqs.append(store.commit.epoch())
    # tier 0 + tier 1 per batch
    assert ing.stats.update_operations == 2 * len(batches)

    for seq in seqs:
        t0, t1, t2 = tiers(store, version=seq)
        assert t1 and t2
        assert t2 == downsample(t1, 3600)
        cascaded = {k: v for k, v in t1.items() if k not in DIRECT_TIER1}
        assert cascaded == {
            k: v for k, v in downsample(t0, 300).items()
            if k not in DIRECT_TIER1
        }
    # both batches' direct tier-1 points are in, over the downsample
    t1 = tiers(store)[1]
    assert (t1[("m", 996_300)], t1[("m", 994_800)]) == (256.0, 16.0)

    assert tiers(store) == reference_tiers(spark, str(tmp_path / "ref"))


def _parquet_files(root):
    return {
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") and "/tier=" in d
    }


@pytest.mark.parametrize("layout", LAYOUTS)
def test_crash_before_the_commit_changes_nothing(spark, tmp_path, layout):
    ing, store, batches = start(spark, tmp_path, layout)
    *done, last = batches
    for b, rows in enumerate(done):
        ing.process_batch(frame(spark, rows), b)
    epoch, state = store.commit.epoch(), tiers(store)
    on_disk = _parquet_files(store.root)

    real = store.commit.commit_txn
    calls = []

    def fail_once(tx, now=None):
        calls.append(tx.op)
        if len(calls) == 1:
            raise OSError("died before publishing the commit record")
        return real(tx, now)

    store.commit.commit_txn = fail_once
    with pytest.raises(OSError):
        ing.process_batch(frame(spark, last), len(done))
    assert calls == ["ingest"]
    stranded = _parquet_files(store.root) - on_disk
    assert stranded  # staged into the live tree, never committed
    assert store.commit.epoch() == epoch
    assert tiers(store) == state

    ing.process_batch(frame(spark, last), len(done))
    assert store.commit.epoch() == epoch + 1
    final = tiers(store)
    assert final == reference_tiers(spark, str(tmp_path / "ref"))

    removed = store.vacuum(grace_s=0, now=time.time() + 1)
    assert {os.path.join(store.root, rel) for rel in removed} >= stranded
    assert not stranded & _parquet_files(store.root)
    assert tiers(store) == final
