"""Streaming ingest + tiered store tests.

Strategy: drive the real Structured Streaming machinery (file text source,
availableNow trigger, checkpoints) on deterministic inputs, then verify
the stored tiers against hand-computed grids — the same golden style as
the reference's tests/test_storage.py, crossed with its daemon behaviors
(create throttle, schema routing, instrumentation counters).
"""

import os

import pytest
from pyspark.sql import functions as F

from kenshin_spark.config import Schema, SchemaSet
from kenshin_spark.ratelimit import FakeClock, TokenBucket
from kenshin_spark.store import ParquetTieredStore
from kenshin_spark.streaming import StreamingIngest

# heavyweight tier: excluded from the driver's fast default run
pytestmark = pytest.mark.slow

SCHEMAS = SchemaSet(
    (
        Schema.from_strings(
            "fast", "^fast", "10s:1h,60s:1d", xff=1.0, agg_method="sum",
            cache_retention=30,
        ),
        Schema.from_strings(
            "slow", ".*", "60s:1d,300s:7d", xff=1.0, agg_method="average",
            cache_retention=60,
        ),
    )
)


def write_lines(path: str, name: str, lines: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def run_stream(spark, ingest, in_dir, cp_dir):
    lines = spark.readStream.format("text").load(in_dir)
    q = ingest.start_lines(
        lines, checkpoint=cp_dir, trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    return q


def rows(df):
    return sorted(
        (r["metric"], r["ts"], r["value"]) for r in df.collect()
    )


class TestStreamingDirect:
    def test_end_to_end(self, spark, tmp_path):
        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        write_lines(
            in_dir,
            "b1.txt",
            [
                "fast.cpu 1.0 1000",
                "fast.cpu 2.0 1005",  # same 10s slot → LWW (later ts wins)
                "fast.cpu 3.0 1010",
                "web.req 10.0 1000",
                "web.req 20.0 1030",
                "not a line at all x",
            ],
        )
        ingest = StreamingIngest(spark, SCHEMAS, root, clock=FakeClock(1200))
        run_stream(spark, ingest, in_dir, cp)

        fast = ingest.store_for(SCHEMAS.schemas[0])
        slow = ingest.store_for(SCHEMAS.schemas[1])
        # fast tier0 at 10s: slot 1000 → LWW=2.0, slot 1010 → 3.0
        assert rows(fast.read(0)) == [
            ("fast.cpu", 1000, 2.0),
            ("fast.cpu", 1010, 3.0),
        ]
        # fast tier1 at 60s, agg=sum over tier0 points
        assert rows(fast.read(1)) == [("fast.cpu", 960, 5.0)]
        # slow tier0 at 60s: 1000→slot 960, 1030→slot 1020
        assert rows(slow.read(0)) == [
            ("web.req", 960, 10.0),
            ("web.req", 1020, 20.0),
        ]
        # slow tier1 at 300s, avg of tier0 points in slot 900
        assert rows(slow.read(1)) == [("web.req", 900, 15.0)]
        # counters: 5 good points, 1 corrupt, 2 creates
        assert ingest.stats.metrics_received == 5
        assert ingest.stats.corrupt_lines == 1
        assert ingest.stats.creates == 2
        assert ingest.stats.dropped_creates == 0

    def test_second_batch_upserts_and_backfills(self, spark, tmp_path):
        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        ingest = StreamingIngest(spark, SCHEMAS, root, clock=FakeClock(1200))
        write_lines(in_dir, "b1.txt", ["fast.a 1.0 1000", "fast.a 4.0 1100"])
        run_stream(spark, ingest, in_dir, cp)
        # second file: overwrite slot 1000, add late point in older slot 900
        write_lines(in_dir, "b2.txt", ["fast.a 9.0 1002", "fast.a 7.0 905"])
        run_stream(spark, ingest, in_dir, cp)

        fast = ingest.store_for(SCHEMAS.schemas[0])
        assert rows(fast.read(0)) == [
            ("fast.a", 900, 7.0),
            ("fast.a", 1000, 9.0),
            ("fast.a", 1100, 4.0),
        ]
        # tier1 re-propagated: slot 900(sum=7), 960(sum=9), 1080(sum=4)
        assert rows(fast.read(1)) == [
            ("fast.a", 900, 7.0),
            ("fast.a", 960, 9.0),
            ("fast.a", 1080, 4.0),
        ]

    def test_create_throttle(self, spark, tmp_path):
        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        clock = FakeClock()
        ingest = StreamingIngest(
            spark, SCHEMAS, root, max_creates_per_minute=2, clock=clock
        )
        write_lines(
            in_dir,
            "b1.txt",
            [f"m{i} 1.0 {1000 + i}" for i in range(5)],
        )
        run_stream(spark, ingest, in_dir, cp)
        assert ingest.stats.creates == 2
        assert ingest.stats.dropped_creates == 3
        # only the admitted metrics' points are stored
        slow = ingest.store_for(SCHEMAS.schemas[1])
        stored_metrics = {r["metric"] for r in slow.read(0).collect()}
        assert stored_metrics == {"m0", "m1"}
        # catalog recorded the admitted pair, schema-routed
        cat = {r["metric"]: r["schema_name"] for r in ingest.catalog().collect()}
        assert cat == {"m0": "slow", "m1": "slow"}

    def test_self_metrics_roundtrip(self, spark, tmp_path):
        root = str(tmp_path / "store")
        ingest = StreamingIngest(spark, SCHEMAS, root, clock=FakeClock(1250))
        ingest.stats.metrics_received = 42
        ingest.record_self_metrics(now=1200)
        slow = ingest.store_for(SCHEMAS.schemas[1])
        got = {
            r["metric"]: r["value"]
            for r in slow.read(0).where(
                F.col("metric") == "rurouni.metrics_received"
            ).collect()
        }
        assert got == {"rurouni.metrics_received": 42.0}

    def test_admission_is_driver_free(self, spark, tmp_path, monkeypatch):
        """_admit must never materialize the batch's metric set on the
        driver (VERDICT r1 'what's wrong' #2): any DataFrame.collect /
        toPandas / toLocalIterator during admission fails this test. The
        driver sees only the new-metric COUNT (one scalar)."""
        from pyspark.sql import DataFrame

        root = str(tmp_path / "store")
        ingest = StreamingIngest(
            spark, SCHEMAS, root, max_creates_per_minute=2, clock=FakeClock()
        )
        points = spark.createDataFrame(
            [(f"m{i}", 1000 + i, 1.0) for i in range(5)],
            ["metric", "ts", "value"],
        )

        def banned(self, *a, **k):
            raise AssertionError("driver-side materialization in _admit")

        with monkeypatch.context() as m:
            m.setattr(DataFrame, "collect", banned)
            m.setattr(DataFrame, "toPandas", banned)
            m.setattr(DataFrame, "toLocalIterator", banned)
            routed = ingest._admit(points, now=1000)
            # force execution of the admission plan itself too
            assert routed.count() == 2  # only token-bucket-admitted points
        assert ingest.stats.creates == 2
        assert ingest.stats.dropped_creates == 3
        cat = {r["metric"] for r in ingest.catalog().collect()}
        assert cat == {"m0", "m1"}  # deterministic name-order admission


class TestAggregatedMode:
    def test_watermarked_flush_and_hot_state(self, spark, tmp_path):
        """Points far behind the max event time flush (closed windows);
        the newest window stays in state (the hot cache) and is readable
        via the state-store source."""
        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        schema = SCHEMAS.schemas[0]  # 10s tier0, cache_retention=30
        ingest = StreamingIngest(spark, SchemaSet((schema,)), root)
        write_lines(
            in_dir,
            "b1.txt",
            [
                "fast.x 1.0 1000",
                "fast.x 2.0 1010",
                "fast.x 3.0 1100",  # advances watermark to 1100-30=1070
            ],
        )
        from kenshin_spark.sources.line_protocol import parse_metric_lines

        lines = spark.readStream.format("text").load(in_dir)
        points = parse_metric_lines(lines, line_col="value").where(
            F.col("corrupt").isNull()
        )
        q = ingest.start_aggregated(
            points, schema, checkpoint=cp, trigger={"availableNow": True}
        )
        q.awaitTermination(120)

        store = ingest.store_for(schema)
        # windows ending ≤ watermark(1070) flushed; 1100's window is open
        assert rows(store.read(0)) == [
            ("fast.x", 1000, 1.0),
            ("fast.x", 1010, 2.0),
        ]
        hot = ingest.hot_points(cp)
        assert rows(hot) == [("fast.x", 1100, 3.0)]
        # hot ∪ cold gives the complete series (the S3 cache-query merge)
        merged = store.read(0).unionByName(hot)
        assert rows(merged) == [
            ("fast.x", 1000, 1.0),
            ("fast.x", 1010, 2.0),
            ("fast.x", 1100, 3.0),
        ]

    def test_flush_passes_bounds_to_write_tiers(
        self, spark, tmp_path, monkeypatch
    ):
        """The aggregated flush derives the propagation window from the
        same materializing aggregate that sizes the tier-0 append, so
        the cascade never re-runs its own min/max job per micro-batch —
        the bounds must arrive explicit, correct, and non-None."""
        from kenshin_spark.store import ParquetTieredStore

        seen = []
        orig = ParquetTieredStore.write_tiers

        def recording(self, slots, *a, bounds=None, **kw):
            seen.append(None if bounds is None else bounds.get(0))
            return orig(self, slots, *a, bounds=bounds, **kw)

        monkeypatch.setattr(ParquetTieredStore, "write_tiers", recording)
        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        schema = SCHEMAS.schemas[0]
        ingest = StreamingIngest(spark, SchemaSet((schema,)), root)
        write_lines(
            in_dir,
            "b1.txt",
            [
                "fast.x 1.0 1000",
                "fast.x 2.0 1010",
                "fast.x 3.0 1100",
            ],
        )
        from kenshin_spark.sources.line_protocol import parse_metric_lines

        lines = spark.readStream.format("text").load(in_dir)
        points = parse_metric_lines(lines, line_col="value").where(
            F.col("corrupt").isNull()
        )
        q = ingest.start_aggregated(
            points, schema, checkpoint=cp, trigger={"availableNow": True}
        )
        q.awaitTermination(120)
        flushed = [b for b in seen if b is not None]
        assert flushed, "flush must pass explicit bounds to write_tiers"
        # the flushed windows are the two closed 10s slots (1000, 1010)
        assert flushed[0] == (1000, 1010)
        assert None not in seen


class TestStore:
    def test_expire_drops_partitions(self, spark, tmp_path):
        schema = Schema.from_strings(
            "s", ".*", "60s:1d,3600s:30d", xff=1.0, agg_method="average"
        )
        store = ParquetTieredStore(spark, schema, str(tmp_path / "st"))
        day = 86400
        pts = spark.createDataFrame(
            [("m", 0 * day + 60, 1.0), ("m", 5 * day, 2.0), ("m", 9 * day, 3.0)],
            ["metric", "ts", "value"],
        )
        store.overwrite(0, pts)
        dropped = store.expire(now=9 * day + 3600)
        # tier0 (1d retention → hourly partitions) keeps 1 day: the hour
        # tokens 0 and 120 (day 5) drop, day 9's token 216 survives
        assert dropped == {0: [0, 120]}
        assert rows(store.read(0)) == [("m", 9 * day, 3.0)]

    def test_upsert_touches_only_affected_days(self, spark, tmp_path):
        schema = Schema.from_strings("s", ".*", "60s:30d", xff=1.0)
        store = ParquetTieredStore(spark, schema, str(tmp_path / "st"))
        day = 86400
        store.overwrite(
            0,
            spark.createDataFrame(
                [("m", 0, 1.0), ("m", day, 2.0)], ["metric", "ts", "value"]
            ),
        )
        p0 = os.path.join(store.tier_path(0), "day=0")
        mtime_before = max(
            os.path.getmtime(os.path.join(p0, f)) for f in os.listdir(p0)
        )
        store.upsert(
            0,
            spark.createDataFrame([("m", day + 60, 9.0)], ["metric", "ts", "value"]),
        )
        mtime_after = max(
            os.path.getmtime(os.path.join(p0, f)) for f in os.listdir(p0)
        )
        assert mtime_before == mtime_after  # day=0 untouched
        assert rows(store.read(0)) == [
            ("m", 0, 1.0),
            ("m", day, 2.0),
            ("m", day + 60, 9.0),
        ]

    def test_upsert_writes_metric_sorted_files(self, spark, tmp_path):
        """Every upsert path sorts (metric, ts) within tasks so parquet
        row-group min/max stats stay tight for metric predicates even
        between compactions — verified on the raw file bytes."""
        import pandas as pd
        import pyarrow.parquet as pq

        schema = Schema.from_strings("s", ".*", "60s:30d", xff=1.0)
        store = ParquetTieredStore(spark, schema, str(tmp_path / "st"))
        # deliberately unsorted input, one day partition
        pts = spark.createDataFrame(
            [("z", 120, 1.0), ("a", 60, 2.0), ("m", 0, 3.0),
             ("a", 0, 4.0), ("z", 0, 5.0)],
            ["metric", "ts", "value"],
        ).coalesce(1)
        store.upsert(0, pts)
        store.upsert(  # second write exercises the append path
            0,
            spark.createDataFrame(
                [("q", 60, 6.0), ("b", 0, 7.0)],
                ["metric", "ts", "value"],
            ).coalesce(1),
        )
        day_dir = os.path.join(store.tier_path(0), "day=0")
        for f in os.listdir(day_dir):
            if not f.endswith(".parquet"):
                continue
            pdf = pq.read_table(
                os.path.join(day_dir, f), columns=["metric", "ts"]
            ).to_pandas()
            ordered = pdf.sort_values(
                ["metric", "ts"], ignore_index=True
            )
            pd.testing.assert_frame_equal(
                pdf.reset_index(drop=True), ordered
            )

    def test_sorted_writes_give_tight_row_group_stats(
        self, spark, tmp_path
    ):
        """The point of sorting: with small row groups forced, each
        group's metric min/max must cover a narrow, non-overlapping
        slice of the metric space — the stats parquet row-group pruning
        skips on. Unsorted writes would give every group the full
        (min, max) range and nothing could ever be skipped."""
        import pyarrow.parquet as pq

        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        old = hconf.get("parquet.block.size")
        hconf.setInt("parquet.block.size", 64 * 1024)
        try:
            schema = Schema.from_strings("s", ".*", "60s:30d", xff=1.0)
            store = ParquetTieredStore(
                spark, schema, str(tmp_path / "st")
            )
            pts = spark.range(0, 60_000).selectExpr(
                "format_string('m%05d', CAST(id % 600 AS INT)) AS metric",
                "60 * CAST(id div 600 AS LONG) AS ts",
                "CAST(id AS DOUBLE) AS value",
            ).coalesce(1)
            store.upsert(0, pts)
            day_dir = os.path.join(store.tier_path(0), "day=0")
            fname = next(
                f for f in os.listdir(day_dir) if f.endswith(".parquet")
            )
            md = pq.ParquetFile(os.path.join(day_dir, fname)).metadata
            assert md.num_row_groups >= 3  # block size forced a split
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == "metric"
            )
            bounds = [
                (
                    md.row_group(g).column(idx).statistics.min,
                    md.row_group(g).column(idx).statistics.max,
                )
                for g in range(md.num_row_groups)
            ]
            for (lo, hi) in bounds:  # each group covers a narrow slice
                assert lo <= hi
            for (_, hi), (lo2, _) in zip(bounds, bounds[1:]):
                assert hi <= lo2  # non-overlapping: pruning can skip
        finally:
            if old is None:
                hconf.unset("parquet.block.size")
            else:
                hconf.set("parquet.block.size", old)

    def test_fetch_from_store(self, spark, tmp_path):
        schema = Schema.from_strings("s", ".*", "60s:1h,300s:1d", xff=1.0)
        store = ParquetTieredStore(spark, schema, str(tmp_path / "st"))
        now = 100_020  # 60-aligned; store holds aligned slots
        pts = spark.createDataFrame(
            [("m", now - 120, 5.0), ("m", now - 60, 6.0)],
            ["metric", "ts", "value"],
        )
        store.upsert(0, pts)
        store.propagate(pts)
        grid = store.fetch(["m"], now - 300, now, now)
        got = rows(grid)
        assert len(got) == 5  # 300s window on the 60s grid
        assert ("m", now - 120, 5.0) in got
        assert ("m", now - 60, 6.0) in got


def test_token_bucket_semantics():
    clock = FakeClock()
    b = TokenBucket(capacity=10, fill_rate=1, clock=clock)
    assert b.consume(10)
    assert not b.consume(1)
    clock.advance(5)
    assert b.consume(5)
    assert b.drain(100) == 0
    clock.advance(3)
    assert b.drain(100) == 3


class TestInstrumentation:
    def test_observed_metrics_listener(self, spark, tmp_path):
        from kenshin_spark.streaming import listener as L

        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        lst = L.ObservedMetricsListener("kenshin_ingest")
        spark.streams.addListener(lst)
        try:
            write_lines(
                in_dir, "b1.txt",
                ["a.x 1.0 1000", "a.y 2.0 1010", "broken line here x"],
            )
            ingest = StreamingIngest(
                spark, SCHEMAS, root, clock=FakeClock(1100)
            )
            run_stream(spark, ingest, in_dir, cp)
            import time as _t

            deadline = _t.time() + 20
            while _t.time() < deadline and lst.totals.get("rows", 0) < 3:
                _t.sleep(0.5)
            assert lst.totals["rows"] == 3
            assert lst.totals["corrupt"] == 1
            pts = lst.as_points(now=5000)
            assert ("rurouni.observed.corrupt", 5000, 1.0) in pts
        finally:
            spark.streams.removeListener(lst)


class TestShutdownFlush:
    def test_flush_open_windows_on_stop(self, spark, tmp_path):
        """W11: after stopping the aggregated query, open windows move
        from state to the cold store, ignoring eligibility."""
        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        schema = SCHEMAS.schemas[0]
        ingest = StreamingIngest(spark, SchemaSet((schema,)), root)
        write_lines(
            in_dir, "b1.txt",
            ["fast.x 1.0 1000", "fast.x 3.0 1100"],  # 1100 stays open
        )
        from kenshin_spark.sources.line_protocol import parse_metric_lines
        from pyspark.sql import functions as F

        lines = spark.readStream.format("text").load(in_dir)
        points = parse_metric_lines(lines, line_col="value").where(
            F.col("corrupt").isNull()
        )
        q = ingest.start_aggregated(
            points, schema, checkpoint=cp, trigger={"availableNow": True}
        )
        q.awaitTermination(120)
        store = ingest.store_for(schema)
        before = {r["ts"] for r in store.read(0).collect()}
        assert 1100 not in before  # open window not yet flushed
        ingest.shutdown_flush(cp, schema)
        after = rows(store.read(0))
        assert ("fast.x", 1100, 3.0) in after


class TestAgeRouting:
    def test_old_points_route_to_coarse_tier(self, spark, tmp_path):
        """W4 (kenshin/storage.py:384-425): points older than tier0's
        retention land directly in the first tier that covers their age;
        points older than every tier are dropped and counted."""
        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        now = 1_000_000
        # fast schema: 10s:1h (3600s), 60s:1d (86400s)
        lines = [
            f"fast.m 1.0 {now - 100}",      # recent → tier0
            f"fast.m 2.0 {now - 7200}",     # 2h old → beyond tier0 → tier1
            f"fast.m 3.0 {now - 200_000}",  # 2.3d old → beyond all → drop
        ]
        write_lines(in_dir, "b1.txt", lines)
        ingest = StreamingIngest(
            spark, SCHEMAS, root, clock=FakeClock(float(now))
        )
        run_stream(spark, ingest, in_dir, cp)
        fast = ingest.store_for(SCHEMAS.schemas[0])
        t0 = rows(fast.read(0))
        t1 = rows(fast.read(1))
        assert t0 == [("fast.m", now - 100 - (now - 100) % 10, 1.0)]
        old_slot = (now - 7200) - (now - 7200) % 60
        assert ("fast.m", old_slot, 2.0) in t1
        # the recent point propagated to tier1 as well (sum agg)
        rec_slot = (now - 100) - (now - 100) % 60
        assert ("fast.m", rec_slot, 1.0) in t1
        assert len(t1) == 2
        assert ingest.stats.dropped_old_points == 1


class TestDeadLetter:
    def test_corrupt_lines_land_in_dead_letter_table(self, spark, tmp_path):
        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        dl = str(tmp_path / "dead")
        write_lines(
            in_dir, "b1.txt",
            ["good.m 1.0 1000", "totally broken", "x y z w"],
        )
        ingest = StreamingIngest(
            spark, SCHEMAS, root, clock=FakeClock(1100), dead_letter_path=dl
        )
        run_stream(spark, ingest, in_dir, cp)
        dead = spark.read.parquet(dl)
        assert dead.count() == 2
        assert {r["line"] for r in dead.collect()} == {
            "totally broken", "x y z w",
        }
        assert ingest.stats.corrupt_lines == 2


class TestStoreDelete:
    def test_delete_metrics_all_tiers_and_catalog(self, spark, tmp_path):
        schema = Schema.from_strings("s", ".*", "60s:1d,300s:7d", xff=1.0)
        store = ParquetTieredStore(spark, schema, str(tmp_path / "st"))
        pts = spark.createDataFrame(
            [("keep", 0, 1.0), ("drop", 0, 2.0), ("drop", 300, 3.0)],
            ["metric", "ts", "value"],
        )
        store.upsert(0, pts)
        store.propagate(pts)
        store.catalog_add(
            spark.createDataFrame(
                [("keep", "s", 0), ("drop", "s", 0)],
                ["metric", "schema_name", "created_ts"],
            )
        )
        store.delete_metrics(["drop"])
        assert {r["metric"] for r in store.read(0).collect()} == {"keep"}
        assert {r["metric"] for r in store.read(1).collect()} == {"keep"}
        assert {r["metric"] for r in store.catalog().collect()} == {"keep"}


class TestCompaction:
    def test_compact_one_file_per_day(self, spark, tmp_path):
        import glob

        schema = Schema.from_strings("s", ".*", "60s:30d", xff=1.0)
        store = ParquetTieredStore(spark, schema, str(tmp_path / "st"))
        day = 86400
        # a wide (multi-task) write leaves one file per task per day
        pts = spark.createDataFrame(
            [("m%d" % i, d * day + 60 * i, float(i))
             for d in range(2) for i in range(40)],
            ["metric", "ts", "value"],
        ).repartition(8)
        store.overwrite(0, pts)
        before = rows(store.read(0))
        files0 = glob.glob(str(tmp_path / "st" / "tier=0" / "day=0" / "*.parquet"))
        assert len(files0) >= 2
        store.compact(0)
        # manifest default: compaction retires superseded files
        # LOGICALLY; vacuum reclaims the bytes (grace 0 + future now)
        import time as _t

        store.vacuum(grace_s=0.0, now=_t.time() + 60)
        files0 = glob.glob(str(tmp_path / "st" / "tier=0" / "day=0" / "*.parquet"))
        assert len(files0) == 1
        assert rows(store.read(0)) == before  # lossless

    def test_small_file_audit_under_many_tiny_batches(
        self, spark, tmp_path
    ):
        """The streaming-ingest IO-shape audit: N tiny mor upserts into
        one hot partition leave ~N files there (the small-file problem
        the reference's preallocated .hs format can't have,
        README.md:63-71); file_report sees it, needs_compaction flags
        exactly the degraded day, and a TARGETED compact(days=[hot])
        restores one file there while never touching the cold
        partition's bytes."""
        schema = Schema.from_strings(
            "s", ".*", "60s:30d", xff=1.0, agg_method="last"
        )
        store = ParquetTieredStore(
            spark, schema, str(tmp_path / "st")
        )
        day = 86400
        # cold day: one clean write
        store.upsert(0, spark.createDataFrame(
            [("m", 0, 1.0), ("m", 60, 2.0)],
            "metric string, ts long, value double"))
        # hot day: 10 tiny micro-batch appends, some overwriting slots
        for b in range(10):
            store.upsert(0, spark.createDataFrame(
                [("m", day + 60 * (b % 4), float(b))],
                "metric string, ts long, value double"))
        before = rows(store.read(0))

        rep = {r["day"]: r for r in store.file_report(0)}
        assert set(rep) == {0, 1}
        assert rep[1]["n_files"] >= 10          # one per micro-batch
        # min_file_bytes=0 isolates the count rule (every file in a
        # 12-row test store is "small" by the 8 MB production default)
        flagged = store.needs_compaction(
            0, max_files_per_day=8, min_file_bytes=0
        )
        assert flagged == [1]
        # the size rule alone flags both fragmented days
        assert store.needs_compaction(0, max_files_per_day=99) == [0, 1]

        cold_files = dict(store.fs.list_files(
            str(tmp_path / "st" / "tier=0" / "day=0")))
        store.compact(0, days=flagged)
        rep2 = {r["day"]: r for r in store.file_report(0)}
        assert rep2[1]["n_files"] == 1
        # the cold partition's files are byte-identical (not rewritten)
        assert dict(store.fs.list_files(
            str(tmp_path / "st" / "tier=0" / "day=0"))) == cold_files
        # data identical, log folded for the compacted day only
        assert rows(store.read(0)) == before
        assert store.needs_compaction(
            0, max_files_per_day=8, min_file_bytes=0
        ) == []

    def test_ingest_maintenance_pass(self, spark, tmp_path):
        """StreamingIngest.maintenance composes expire + audit +
        targeted compact across every store the ingest touched and
        reports what actually happened."""
        in_dir, cp, root = (
            str(tmp_path / "in"),
            str(tmp_path / "cp"),
            str(tmp_path / "store"),
        )
        now0 = 10 * 86400
        # every micro-batch APPENDS, so the hot hour fragments
        ingest = StreamingIngest(
            spark, SCHEMAS, root, clock=FakeClock(now0)
        )
        # several micro-batches into the same HOUR fragment tier 0
        # (slow schema 60s:1d → hourly partitions)
        hot_ts = now0 - 3600
        for b in range(4):
            write_lines(in_dir, f"b{b}.txt",
                        [f"web.req {b}.0 {hot_ts + 60 * b}"])
            run_stream(spark, ingest, in_dir, cp)
        # plus one 20h-old point whose hour partition a later
        # maintenance `now` pushes past tier0's 1d retention
        old_ts = now0 - 20 * 3600
        write_lines(in_dir, "old.txt", [f"web.req 1.0 {old_ts}"])
        run_stream(spark, ingest, in_dir, cp)

        slow = ingest.store_for(SCHEMAS.schemas[1])
        hot_day = hot_ts // slow.part_unit(0)
        old_day = old_ts // slow.part_unit(0)
        frag = {r["day"]: r["n_files"] for r in slow.file_report(0)}
        assert frag[hot_day] >= 4 and old_day in frag

        report = ingest.maintenance(
            now=now0 + 5 * 3600, max_files_per_day=3, min_file_bytes=0
        )
        assert old_day in report["slow"]["expired"][0]
        assert hot_day in report["slow"]["compacted"][0]
        frag2 = {r["day"]: r["n_files"] for r in slow.file_report(0)}
        assert frag2[hot_day] == 1 and old_day not in frag2
        # the fragmented hour's data survived compaction (60s LWW slots)
        assert ("web.req", hot_ts, 0.0) in rows(slow.read(0))


class TestStatefulRate:
    def test_rate_carries_state_across_batches(self, spark, tmp_path):
        """applyInPandasWithState: batch 2's first rate uses batch 1's
        last point, which only state can provide."""
        from kenshin_spark.sources.line_protocol import parse_metric_lines
        from kenshin_spark.streaming.stateful import with_counter_rate

        in_dir, cp = str(tmp_path / "in"), str(tmp_path / "cp")
        out_rows = []
        # one state store per shuffle partition, each with a Python
        # state-protocol worker per batch — keep the test's partition
        # count (frozen into the checkpoint) small
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")

        def sink(batch, batch_id):
            out_rows.extend(
                (r["metric"], r["ts"], r["value"], r["rate"])
                for r in batch.collect()
            )

        def run_once(expect_rows: int):
            import time as _t

            lines = spark.readStream.format("text").load(in_dir)
            pts = parse_metric_lines(lines, line_col="value").where(
                F.col("corrupt").isNull()
            ).select("metric", "ts", "value")
            q = (
                with_counter_rate(pts)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            # a query with ProcessingTimeTimeout state keeps running
            # timer batches after the drain — wait until the sink has the
            # data, then stop explicitly
            # 240 s, not 90: under a fully loaded box (the complete suite
            # saturating every core) one availableNow drain of this
            # Python-state-worker query can exceed 90 s — stopping the
            # query then loses the batch and flakes the value asserts
            deadline = _t.time() + 240
            while _t.time() < deadline and q.isActive:
                if len(out_rows) >= expect_rows:
                    break
                _t.sleep(0.5)
            if q.isActive:
                q.stop()
            q.awaitTermination(60)

        try:
            write_lines(in_dir, "b1.txt", ["ctr 100.0 1000", "ctr 130.0 1010"])
            run_once(expect_rows=2)
            write_lines(in_dir, "b2.txt", ["ctr 190.0 1030", "ctr 50.0 1040"])
            run_once(expect_rows=4)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

        got = {ts: rate for _, ts, _, rate in out_rows}
        assert got[1000] is None          # series start
        assert got[1010] == 3.0           # (130-100)/10
        assert got[1030] == 3.0           # (190-130)/20 — NEEDS state
        assert got[1040] is None          # counter reset


class TestStatefulHolt:
    def test_streaming_equals_batch_scan(self, spark, tmp_path):
        """Two micro-batches through with_holt_aberration must emit
        EXACTLY what the batch holt_linear scan emits over the
        concatenated series — forecasting state carries across batches,
        and both paths share one step function, so alert thresholds are
        portable between backfill and live ingest."""
        from kenshin_spark.functions.render import holt_linear
        from kenshin_spark.sources.line_protocol import parse_metric_lines
        from kenshin_spark.streaming.holt import with_holt_aberration

        in_dir, cp = str(tmp_path / "in"), str(tmp_path / "cp")
        out_rows = []
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")

        def sink(batch, batch_id):
            out_rows.extend(tuple(r) for r in batch.collect())

        def run_once(expect_rows: int):
            import time as _t

            lines = spark.readStream.format("text").load(in_dir)
            pts = parse_metric_lines(lines, line_col="value").where(
                F.col("corrupt").isNull()
            ).select("metric", "ts", "value")
            q = (
                with_holt_aberration(pts)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            # 240 s, not 90: under a fully loaded box (the complete suite
            # saturating every core) one availableNow drain of this
            # Python-state-worker query can exceed 90 s — stopping the
            # query then loses the batch and flakes the value asserts
            deadline = _t.time() + 240
            while _t.time() < deadline and q.isActive:
                if len(out_rows) >= expect_rows:
                    break
                _t.sleep(0.5)
            if q.isActive:
                q.stop()
            q.awaitTermination(60)

        series = [
            ("m", 1000, 10.0), ("m", 1010, 12.0), ("m", 1020, 11.0),
            ("m", 1030, 15.0), ("m", 1040, 90.0),  # the spike
        ]
        try:
            write_lines(in_dir, "b1.txt",
                        [f"{m} {v} {t}" for m, t, v in series[:3]])
            run_once(expect_rows=3)
            write_lines(in_dir, "b2.txt",
                        [f"{m} {v} {t}" for m, t, v in series[3:]])
            run_once(expect_rows=5)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

        grid = spark.createDataFrame(
            series, "metric string, ts long, value double"
        )
        batch = [tuple(r) for r in holt_linear(grid).orderBy("ts").collect()]
        assert sorted(out_rows, key=lambda r: r[1]) == batch
        # the spike actually trips the 3-sigma band
        assert batch[-1][5] is True


class TestMergeOnRead:
    def test_resolve_equals_one_pass_lww(self, spark, tmp_path):
        """An upsert sequence reads back as one last-write-wins pass
        over every batch in arrival order; compaction folds the log
        without changing results."""
        schema = Schema.from_strings("s", ".*", "60s:1d,300s:7d", xff=1.0)
        mor = ParquetTieredStore(spark, schema, str(tmp_path / "mor"))
        batches = [
            [("m1", 0, 1.0), ("m2", 60, 2.0)],
            [("m1", 0, 9.0), ("m1", 120, 3.0)],   # overwrite + new
            [("m2", 60, None), ("m3", 0, 5.0)],   # NULL overwrite + create
        ]
        for b in batches:
            mor.upsert(0, spark.createDataFrame(
                b, "metric string, ts long, value double"
            ))
        lww = {}
        for b in batches:
            for m, ts, v in b:
                lww[(m, ts)] = v
        want = sorted((m, ts, v) for (m, ts), v in lww.items())
        assert rows(mor.read(0)) == want
        # range reads resolve the same way
        assert rows(mor.read_range(0, 0, 100)) == [
            r for r in want if r[1] < 100
        ]
        before = rows(mor.read(0))
        mor.compact(0)
        assert rows(mor.read(0)) == before
        # after compaction the log is one row per slot (vacuum first:
        # the raw directory read would also count retired files still
        # awaiting reclamation under the manifest default)
        import time as _t

        mor.vacuum(grace_s=0.0, now=_t.time() + 60)
        raw = spark.read.parquet(mor.tier_path(0))
        assert raw.count() == len(before)

    def test_snapshot_read_by_version(self, spark, tmp_path):
        """read(version=seq) pins the store state after that manifest
        commit: later appends are invisible and snapshots are
        batch-atomic."""
        schema = Schema.from_strings("s", ".*", "60s:1d", xff=1.0)
        st = ParquetTieredStore(spark, schema, str(tmp_path / "st"))
        st.upsert(0, spark.createDataFrame(
            [("m1", 0, 1.0), ("m2", 60, 2.0)],
            "metric string, ts long, value double"))
        s1 = st.commit.epoch()
        st.upsert(0, spark.createDataFrame(
            [("m1", 0, 9.0), ("m3", 0, 5.0)],
            "metric string, ts long, value double"))
        assert rows(st.read(0, version=s1)) == [
            ("m1", 0, 1.0), ("m2", 60, 2.0)]
        assert rows(st.read(0, version=st.commit.epoch())) == rows(
            st.read(0))
        assert ("m1", 0, 9.0) in rows(st.read(0))

    def test_mor_append_is_o_batch(self, spark, tmp_path):
        """mor upsert appends exactly the batch's rows — no rewrite of
        existing data (file count grows, bytes ∝ batch)."""
        import glob

        schema = Schema.from_strings("s", ".*", "60s:30d", xff=1.0)
        mor = ParquetTieredStore(
            spark, schema, str(tmp_path / "mor")
        )
        big = spark.createDataFrame(
            [("m%d" % i, 0, 1.0) for i in range(1000)],
            "metric string, ts long, value double",
        )
        mor.upsert(0, big)
        files_before = set(
            glob.glob(str(tmp_path / "mor" / "tier=0" / "day=0" / "*.parquet"))
        )
        tiny = spark.createDataFrame(
            [("m1", 0, 2.0)], "metric string, ts long, value double"
        )
        mor.upsert(0, tiny)
        files_after = set(
            glob.glob(str(tmp_path / "mor" / "tier=0" / "day=0" / "*.parquet"))
        )
        assert files_before < files_after          # strictly appended
        # the winner is the later write
        got = {r["metric"]: r["value"] for r in mor.read(0).collect()}
        assert got["m1"] == 2.0

class TestObjectStoreSafety:
    """Store ops route through the Hadoop FS abstraction (fs.py): they
    must behave identically on a ``file:`` URI root (the portability
    shim for hdfs://s3a roots), survive a crash mid-swap, and never
    double-issue a write stamp across concurrent store handles."""

    def test_store_ops_on_file_uri_root(self, spark, tmp_path):
        schema = Schema.from_strings("s", ".*", "60s:1d,300s:7d", xff=1.0)
        root = "file://" + str(tmp_path / "uri_store")
        st = ParquetTieredStore(spark, schema, root)
        st.upsert(0, spark.createDataFrame(
            [("m1", 0, 1.0), ("m2", 60, 2.0)],
            "metric string, ts long, value double"))
        st.upsert(0, spark.createDataFrame(
            [("m1", 0, 9.0)], "metric string, ts long, value double"))
        assert rows(st.read(0)) == [("m1", 0, 9.0), ("m2", 60, 2.0)]
        st.compact(0)
        assert rows(st.read(0)) == [("m1", 0, 9.0), ("m2", 60, 2.0)]
        st.delete_metrics(["m2"])
        assert rows(st.read(0)) == [("m1", 0, 9.0)]
        # expiry drops the day partition once it ages out
        assert st.expire(now=10 * 86400) == {0: [0]}
        assert rows(st.read(0)) == []

    def test_swap_crash_recovery(self, spark, tmp_path):
        """A whole-directory swap (``fs.swap``) that dies between 'stage
        live -> .bak' and 'promote tmp -> live' leaves no live tier: the
        committed files are missing, so a read fails loudly instead of
        returning a silently empty tier, and recover() restores the .bak
        (the change-schema .bak dance, atomicity half) — the manifest's
        root-relative keys then resolve again."""
        schema = Schema.from_strings("s", ".*", "60s:1d", xff=1.0)
        root = str(tmp_path / "crash")
        st = ParquetTieredStore(spark, schema, root)
        st.upsert(0, spark.createDataFrame(
            [("m", 0, 4.0)], "metric string, ts long, value double"))
        before = rows(st.read(0))
        # simulate the crash window: live staged away, promote never ran
        st.fs.rename(st.tier_path(0), st.tier_path(0) + ".bak")
        with pytest.raises(Exception):
            st.read(0).collect()
        assert st.recover() == [st.tier_path(0)]
        assert rows(st.read(0)) == before
        # idempotent once healthy
        assert st.recover() == []

    def test_concurrent_handles_never_share_a_stamp(self, spark, tmp_path):
        """Several store handles upsert one slot at once: every write
        commits at exactly the seq it stamped (a writer that lost the
        seq re-stamps), so every live file's _seq is the seq that
        committed it and the read returns the highest seq's value."""
        import os
        import sys
        import threading

        schema = Schema.from_strings("s", ".*", "60s:1d", xff=1.0)
        root = str(tmp_path / "cc")
        n_writers = len(os.sched_getaffinity(0)) + 1  # more than cores
        errors = []

        def writer(w):
            st = ParquetTieredStore(spark, schema, root)
            try:
                for k in range(2):
                    st.upsert(0, spark.createDataFrame(
                        [("m", 0, float(10 * w + k))],
                        "metric string, ts long, value double"))
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        threads = [
            threading.Thread(target=writer, args=(w,))
            for w in range(n_writers)
        ]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert not errors
        st = ParquetTieredStore(spark, schema, root)
        assert st.commit.epoch() == 2 * n_writers
        for seq in range(1, 2 * n_writers + 1):
            added = set(st.commit.snapshot(seq)) - set(
                st.commit.snapshot(seq - 1)
            )
            got = spark.read.parquet(
                *[os.path.join(root, rel) for rel in added]
            ).collect()
            assert [r["_seq"] for r in got] == [seq]
        assert rows(st.read(0)) == [("m", 0, got[0]["value"])]


class TestStreamingIncrementalDedup:
    def test_cross_batch_pairs_via_persisted_index(self, spark, tmp_path):
        """The streaming shape of incremental dedup: each micro-batch is
        checked against the PERSISTED band index of everything ingested
        before it, then its own band rows are appended to the index.
        Duplicates across batches are caught without ever re-shingling
        the accumulated corpus."""
        import os

        from kenshin_spark.dedup.minhash import (
            minhash_band_index,
            minhash_pairs_against_index,
        )

        ix_path = str(tmp_path / "band_index")
        corpus_path = str(tmp_path / "corpus")
        base = "the quick brown fox jumps over the lazy dog again and again"
        batches = [
            [(1, base), (2, "completely different words entirely here now")],
            [(10, base + " tail"), (11, "unrelated fresh content this time")],
            [(20, base)],  # dup of batch-0's doc 1 AND batch-1's doc 10
        ]
        found = []

        def process(batch_df):
            # the foreachBatch body a production job would run
            if os.path.exists(ix_path):
                ix = spark.read.parquet(ix_path)
                corpus = spark.read.parquet(corpus_path)
                found.extend(
                    (r["corpus_id"], r["new_id"])
                    for r in minhash_pairs_against_index(
                        batch_df, corpus, ix, threshold=0.5
                    ).collect()
                )
            minhash_band_index(batch_df).write.mode("append").parquet(ix_path)
            batch_df.write.mode("append").parquet(corpus_path)

        for b in batches:
            process(spark.createDataFrame(b, ["doc_id", "text"]))

        assert sorted(found) == [(1, 10), (1, 20), (10, 20)]


class TestChangeDataFeed:
    def test_changed_between_stamps(self, spark, tmp_path):
        """changed_between(a, b) over manifest seqs returns exactly the
        slots whose RESOLVED value moved — overwrites and creates, not
        untouched rows."""
        schema = Schema.from_strings("s", ".*", "60s:1d", xff=1.0)
        mor = ParquetTieredStore(
            spark, schema, str(tmp_path / "cdc")
        )
        mor.upsert(0, spark.createDataFrame(
            [("m1", 0, 1.0), ("m2", 60, 2.0)],
            "metric string, ts long, value double"))
        s1 = mor.commit.epoch()
        mor.upsert(0, spark.createDataFrame(
            [("m1", 0, 9.0), ("m3", 0, 5.0)],  # overwrite + create
            "metric string, ts long, value double"))
        s2 = mor.commit.epoch()
        changed = rows(mor.changed_between(0, s1, s2))
        assert changed == [("m1", 0, 9.0), ("m3", 0, 5.0)]
        # untouched m2 is absent; a no-op window diffs empty
        assert rows(mor.changed_between(0, s2, s2)) == []


class TestCatchUpPropagation:
    def test_propagate_from_seq_backfills_coarse_tiers(self, spark, tmp_path):
        """A tier0 write that bypassed the cascade (import/backfill) is
        caught up by propagate_from_seq — only since the given manifest
        seq, and a second catch-up from the returned seq is a no-op."""
        schema = Schema.from_strings(
            "s", ".*", "60s:1d,300s:7d", xff=1.0, agg_method="average"
        )
        mor = ParquetTieredStore(
            spark, schema, str(tmp_path / "cb")
        )
        # normal cascaded write
        first = spark.createDataFrame(
            [("m", 0, 2.0), ("m", 60, 4.0)],
            "metric string, ts long, value double")
        mor.upsert(0, first)
        mor.propagate(first)
        s1 = mor.commit.epoch()
        assert rows(mor.read(1)) == [("m", 0, 3.0)]
        # backfill lands in tier0 WITHOUT cascading
        mor.upsert(0, spark.createDataFrame(
            [("m", 120, 12.0)], "metric string, ts long, value double"))
        assert rows(mor.read(1)) == [("m", 0, 3.0)]  # stale coarse tier
        s2 = mor.propagate_from_seq(s1)
        assert rows(mor.read(1)) == [("m", 0, 6.0)]  # avg(2,4,12)
        # idempotent from the returned checkpoint
        mor.propagate_from_seq(s2)
        assert rows(mor.read(1)) == [("m", 0, 6.0)]


class TestBackup:
    def test_backup_to_copies_everything_restorable(self, spark, tmp_path):
        schema = Schema.from_strings("s", ".*", "60s:1d,300s:7d", xff=1.0)
        src = ParquetTieredStore(
            spark, schema, str(tmp_path / "live")
        )
        src.upsert(0, spark.createDataFrame(
            [("m", 0, 1.0), ("m", 60, 2.0)],
            "metric string, ts long, value double"))
        src.catalog_add(spark.createDataFrame(
            [("m", "s", 0)], "metric string, schema_name string, created_ts long"))
        copied = src.backup_to(str(tmp_path / "bak"))
        # tier0 + catalog + the manifest log (tier1 empty)
        assert len(copied) == 3
        restored = ParquetTieredStore(
            spark, schema, str(tmp_path / "bak")
        )
        assert rows(restored.read(0)) == rows(src.read(0))
        assert restored.commit.epoch() == src.commit.epoch()
        assert restored.catalog().count() == 1
        # the restored handle continues the seq sequence safely
        restored.upsert(0, spark.createDataFrame(
            [("m", 0, 9.0)], "metric string, ts long, value double"))
        assert rows(restored.read(0)) == [("m", 0, 9.0), ("m", 60, 2.0)]


class _FakeState:
    """Minimal GroupState stand-in for driving the holt kernel directly."""

    def __init__(self):
        self._v = None
        self.exists = False
        self.hasTimedOut = False

    @property
    def get(self):
        return self._v

    def update(self, v):
        if v is None:
            raise ValueError("state.update(None)")
        self._v = tuple(v)
        self.exists = True

    def setTimeoutDuration(self, ms):
        pass

    def remove(self):
        self._v, self.exists = None, False


class TestHoltNanHandling:
    """ADVICE r3: a NaN-only first batch crashed state.update(None), and
    NaN rows were dropped from streaming output while the batch scan
    keeps them — breaking the streaming==batch invariant."""

    def test_nan_only_first_batch_does_not_crash(self):
        import math

        import pandas as pd

        from kenshin_spark.streaming.holt import make_holt_fn

        fn = make_holt_fn()
        st = _FakeState()
        out = list(fn(("m",), iter([pd.DataFrame(
            {"ts": [1000, 1010], "value": [math.nan, math.nan]}
        )]), st))
        rows = pd.concat(out)
        # rows kept with NULL outputs, no state persisted yet
        assert len(rows) == 2
        assert rows["forecast"].isna().all()
        assert not st.exists

    def test_nan_rows_match_batch_scan(self, spark):
        import math

        import pandas as pd

        from kenshin_spark.functions.render import holt_linear
        from kenshin_spark.streaming.holt import make_holt_fn

        series = [(1000, 10.0), (1010, math.nan), (1020, 11.0),
                  (1030, 15.0)]
        fn = make_holt_fn()
        st = _FakeState()
        out = pd.concat(list(fn(("m",), iter([pd.DataFrame(
            {"ts": [t for t, _ in series],
             "value": [v for _, v in series]}
        )]), st)))
        grid = spark.createDataFrame(
            [("m", t, None if math.isnan(v) else v) for t, v in series],
            "metric string, ts long, value double",
        )
        batch = holt_linear(grid).orderBy("ts").collect()
        got = list(out.sort_values("ts").itertuples(index=False))
        assert len(got) == len(batch) == 4
        for g, b in zip(got, batch):
            for gv, bv in zip(g, tuple(b)):
                if isinstance(gv, float) and math.isnan(gv):
                    assert bv is None or (isinstance(bv, float) and math.isnan(bv))
                else:
                    assert gv == bv
        # streaming state seeded despite the gap row
        assert st.exists


class TestSessionWindows:
    """Native session_window + watermarked dedup — streaming ≡ batch."""

    def _events_json(self, tmp_path, name, rows):
        """rows: (user_id, iso_ts, value) → one json-lines file."""
        import json

        d = str(tmp_path / "sess_in")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "w") as f:
            for u, ts, v in rows:
                f.write(json.dumps({"user_id": u, "ts": ts, "value": v}) + "\n")
        return d

    _SCHEMA = "user_id long, ts timestamp, value double"

    _ROWS = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),   # same session (gap 10m)
        (1, "2024-01-01 01:00:00", 4.0),   # new session (gap 50m)
        (2, "2024-01-01 00:05:00", 8.0),
    ]

    def test_streaming_equals_batch(self, spark, tmp_path):
        from kenshin_spark.streaming.sessions import sessionize

        in_dir = self._events_json(tmp_path, "b1.json", self._ROWS)
        batch_df = spark.read.schema(self._SCHEMA).json(in_dir)
        want = sorted(
            (r["user_id"], r["session_start"], r["session_end"],
             r["n_events"], r["sum_value"])
            for r in sessionize(batch_df, gap="30 minutes").collect()
        )
        assert len(want) == 3  # user1 × 2 sessions + user2 × 1

        stream = spark.readStream.schema(self._SCHEMA).json(in_dir)
        q = (
            sessionize(stream.withWatermark("ts", "10 minutes"),
                       gap="30 minutes")
            .writeStream.format("memory")
            .queryName("sess_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["user_id"], r["session_start"], r["session_end"],
             r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM sess_out").collect()
        )
        assert got == want

    def test_dedup_within_watermark_drops_resends(self, spark, tmp_path):
        from kenshin_spark.streaming.sessions import dedup_within_watermark

        rows = self._ROWS + [self._ROWS[0], self._ROWS[3]]  # re-sends
        in_dir = self._events_json(tmp_path, "b1.json", rows)

        stream = spark.readStream.schema(self._SCHEMA).json(in_dir)
        deduped = dedup_within_watermark(
            stream, ["user_id", "ts"], watermark="1 hour"
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT user_id, ts, value FROM dedup_out").collect()
        assert len(got) == len(self._ROWS)  # duplicates dropped
        # batch fallback gives the same multiset
        batch = dedup_within_watermark(
            spark.read.schema(self._SCHEMA).json(in_dir), ["user_id", "ts"]
        )
        assert batch.count() == len(self._ROWS)


class TestStreamingQualityGate:
    """Row-local Deequ-lite checks folded into the ingest batch pass:
    violating rows go to dead-letter, clean rows flow to the store."""

    def test_gate_rejects_rows_not_batches(self, spark, tmp_path):
        from kenshin_spark.quality import in_range, predicate

        in_dir, cp, root, dl = (
            str(tmp_path / "in"), str(tmp_path / "cp"),
            str(tmp_path / "store"), str(tmp_path / "dead"),
        )
        write_lines(
            in_dir, "b1.txt",
            [
                "web.req 10.0 1000",
                "web.req nan 1030",       # NaN value → gate
                "web.req -5.0 1060",      # negative → gate
                "web.req 20.0 1090",
            ],
        )
        ingest = StreamingIngest(
            spark, SCHEMAS, root, clock=FakeClock(1200),
            dead_letter_path=dl,
            quality_checks=[
                in_range("value", 0.0, 1e6),
                predicate("NOT isnan(value)", name="not_nan"),
            ],
        )
        run_stream(spark, ingest, in_dir, cp)

        assert ingest.stats.quality_rejected == 2
        stored = rows(ingest.store_for(SCHEMAS.schemas[1]).read(0))
        assert [m for m, _, _ in stored] == ["web.req", "web.req"]
        assert all(v >= 0 for _, _, v in stored)
        dead = spark.read.parquet(dl)
        assert dead.count() == 2
        assert set(dead.columns) == {"line", "batch_id"}

    def test_aggregate_checks_rejected_up_front(self, spark, tmp_path):
        from kenshin_spark.quality import unique

        with pytest.raises(ValueError, match="row-local"):
            StreamingIngest(
                spark, SCHEMAS, str(tmp_path / "s"),
                quality_checks=[unique("metric")],
            )


class TestStreamStreamAttribution:
    """attribute_conversions: the watermarked stream-stream interval
    join, with the streaming==batch invariant."""

    def _write_events(self, d, name, rows):
        import json as _json
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "w") as f:
            for uid, ts in rows:
                f.write(_json.dumps({"user_id": uid, "ts": ts}) + "\n")

    def test_streaming_equals_batch(self, spark, tmp_path):
        from kenshin_spark.streaming.sessions import attribute_conversions

        clicks = [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:20:00"),
                  (2, "2024-01-01 10:00:00"), (3, "2024-01-01 09:00:00")]
        convs = [(1, "2024-01-01 10:25:00"),   # matches both user-1 clicks
                 (2, "2024-01-01 11:00:00"),   # 60 min after click: outside
                 (3, "2024-01-01 09:10:00")]   # matches the early click
        cd, vd = str(tmp_path / "clicks"), str(tmp_path / "convs")
        self._write_events(cd, "a.jsonl", clicks)
        self._write_events(vd, "a.jsonl", convs)
        schema = "user_id long, ts timestamp"

        batch = attribute_conversions(
            spark.createDataFrame(clicks, "user_id long, ts string")
            .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts"),
            spark.createDataFrame(convs, "user_id long, ts string")
            .selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts"),
        )
        want = sorted(
            (r["user_id"], str(r["click_ts"]), str(r["conv_ts"]), r["lag_s"])
            for r in batch.collect()
        )
        assert [w[0] for w in want] == [1, 1, 3]
        assert want[0][3] in (300, 1500) and want[1][3] in (300, 1500)

        stream = attribute_conversions(
            spark.readStream.schema(schema).json(cd),
            spark.readStream.schema(schema).json(vd),
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("attrib")
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["user_id"], str(r["click_ts"]), str(r["conv_ts"]), r["lag_s"])
            for r in spark.sql("SELECT * FROM attrib").collect()
        )
        assert got == want
