"""Opening a store root under the one commit protocol, the manifest log:
fresh and logged roots open on it, a tree written outside the log is
refused until ``migrate`` adopts it, and a first write that crashed
before its commit stays invisible. A root written in the retired
copy-on-write layout opens, reads and takes writes without migration,
and the store has no layout option left. Also the write paths'
commit-shape invariant: a multi-day compaction is one commit."""

import os

import pytest

from _writers import write_cow_layout
from kenshin_spark.commit import ManifestCommitProtocol
from kenshin_spark.config import Schema, SchemaSet
from kenshin_spark.store import ArrowReader, LegacyTreeError, ParquetTieredStore
from kenshin_spark.streaming.ingest import StreamingIngest

SCHEMA = Schema.from_strings("s", ".*", "60s:30d", xff=1.0)
DAY = 86400


def _rows(spark, pts):
    return spark.createDataFrame(pts, "metric string, ts long, value double")


def _points(store, i=0):
    return sorted((r["metric"], r["ts"], r["value"])
                  for r in store.read(i).collect())


class TestRootOpening:
    def test_fresh_root_defaults_to_manifest(self, spark, tmp_path):
        st = ParquetTieredStore(spark, SCHEMA, str(tmp_path / "st"))
        assert isinstance(st.commit, ManifestCommitProtocol)
        assert st.commit.epoch() == 0
        assert _points(st) == []

    def test_manifest_root_reopens_as_manifest(self, spark, tmp_path):
        first = ParquetTieredStore(spark, SCHEMA, str(tmp_path / "st"))
        first.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        st = ParquetTieredStore(spark, SCHEMA, str(tmp_path / "st"))
        assert st.commit.epoch() == 1
        assert _points(st) == [("m", 60, 1.0)]

    def test_legacy_tree_is_refused_until_migrate(self, spark, tmp_path):
        """A tier written by a bare ``partitionBy("day")`` parquet write
        has no manifest: opening it must fail loudly (reading it would
        plan from an empty log), and ``migrate`` adopts it exactly."""
        root = str(tmp_path / "st")
        pts = [("m", 60, 1.0), ("m", DAY + 60, 2.0), ("n", 120, 3.0)]
        spark.createDataFrame(
            [(m, ts, v, ts // DAY) for m, ts, v in pts],
            "metric string, ts long, value double, day long",
        ).write.partitionBy("day").parquet(os.path.join(root, "tier=0"))
        with pytest.raises(LegacyTreeError, match="migrate"):
            ParquetTieredStore(spark, SCHEMA, root)
        st = ParquetTieredStore.migrate(spark, SCHEMA, root)
        assert st.history()[0]["op"] == "migrate"
        assert _points(st) == sorted(pts)
        # a logged root reopens normally; a second migrate is refused
        assert _points(ParquetTieredStore(spark, SCHEMA, root)) == sorted(pts)
        with pytest.raises(RuntimeError, match="already exists"):
            ParquetTieredStore.migrate(spark, SCHEMA, root)

    def test_cli_migrate_adopts_the_refused_tree(
        self, spark, tmp_path, capsys
    ):
        import json

        from kenshin_spark import cli

        root = str(tmp_path / "st")
        spark.createDataFrame(
            [("m", 60, 1.0, 0)],
            "metric string, ts long, value double, day long",
        ).write.partitionBy("day").parquet(os.path.join(root, "tier=0"))
        base = ["--root", root, "--cpus", "2", "--retentions", "60s:30d"]
        with pytest.raises(LegacyTreeError):
            cli.main(base + ["info"])
        cli.main(base + ["migrate"])
        assert json.loads(capsys.readouterr().out) == {
            "committed_seq": 1, "files": 1,
        }
        cli.main(base + ["info"])
        assert '"metric": "m"' in capsys.readouterr().out

    def test_crashed_first_write_stays_invisible(self, spark, tmp_path):
        """A fresh root whose first write died after ``_adopt`` moved
        its files into the tier but before the commit record: the
        adopted files carry the ``<tag>-`` prefix, so the reopen is NOT
        taken for a legacy tree — it opens at epoch 0 and the
        never-committed rows stay invisible."""
        root = str(tmp_path / "st")
        st = ParquetTieredStore(spark, SCHEMA, root)

        def crash(tx, now=None):
            raise OSError("died before publishing the commit record")

        st.commit.commit_txn = crash
        with pytest.raises(OSError):
            st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        on_disk = [f for _, _, fs in os.walk(os.path.join(root, "tier=0"))
                   for f in fs if f.endswith(".parquet")]
        assert on_disk  # the adopted file sits in the live tree
        reopened = ParquetTieredStore(spark, SCHEMA, root)
        assert reopened.commit.epoch() == 0
        assert _points(reopened) == []


class TestBatchedCompactionGuard:
    def test_multi_day_compact_is_one_epoch_transition(self, spark, tmp_path):
        """compact(days=[...]) folds every requested day in one job and
        commits them in ONE transaction: the epoch moves by exactly one
        regardless of day count."""
        st = ParquetTieredStore(
            spark, SCHEMA, str(tmp_path / "st")
        )
        rows = [("m", d * DAY + 60 * k, 1.0) for d in range(6) for k in range(3)]
        for _ in range(3):  # fragment: 3 appends per day
            st.upsert(0, _rows(spark, rows))
        e0 = st.commit.epoch()
        done = st.compact(0, days=[0, 1, 2, 3, 4])
        assert done == [0, 1, 2, 3, 4]
        assert st.commit.epoch() == e0 + 1  # one commit, not five
        # and the fold is still correct
        assert st.read(0).count() == 18


class TestCowLayoutRoot:
    """A root the retired copy-on-write layout wrote — tier files
    without ``_seq``, one row per slot, under the manifest log — needs
    no migration: a missing ``_seq`` reads NULL and ranks below every
    stamp."""

    SCHEMA = Schema.from_strings(
        "c", ".*", "60s:1d,300s:7d", xff=1.0, agg_method="sum"
    )
    NOW = 10 * DAY  # a multiple of both steps

    def _grid(self, st):
        """The last 15 min of both metrics through ``store.fetch`` and
        ``ArrowReader.fetch``, which must agree."""
        args = (["m", "n"], self.NOW - 900, self.NOW, self.NOW)
        grid = sorted(map(tuple, st.fetch(*args).collect()))
        assert sorted(ArrowReader(st).fetch(*args)) == grid
        return {(m, ts): v for m, ts, v in grid if v is not None}

    def test_reads_takes_writes_and_compacts(self, spark, tmp_path):
        import pyarrow.parquet as pq

        now = self.NOW
        root = str(tmp_path / "c")
        seeded = ParquetTieredStore(spark, self.SCHEMA, root)
        write_cow_layout(seeded, {
            0: _rows(spark, [("m", now - 600, 1.0), ("m", now - 540, 2.0),
                             ("m", now - 480, 3.0), ("n", now - 600, 4.0)]),
            1: _rows(spark, [("m", now - 600, 6.0), ("n", now - 600, 4.0)]),
        })
        st = ParquetTieredStore(spark, self.SCHEMA, root)  # no LegacyTreeError
        for rel, _ in st.commit.live_files():
            names = pq.read_schema(os.path.join(root, rel)).names
            assert "_seq" not in names
        assert _points(st) == [("m", now - 600, 1.0), ("m", now - 540, 2.0),
                               ("m", now - 480, 3.0), ("n", now - 600, 4.0)]
        assert self._grid(st) == {
            ("m", now - 600): 1.0, ("m", now - 540): 2.0,
            ("m", now - 480): 3.0, ("n", now - 600): 4.0,
        }

        # a later batch wins its slots over the unstamped rows, and
        # cascades from them
        ing = StreamingIngest(
            spark, SchemaSet((self.SCHEMA,)), str(tmp_path),
            clock=lambda: now,
        )
        assert ing.store_for(self.SCHEMA).root == root
        ing.process_batch(
            _rows(spark, [("m", now - 540, 10.0), ("n", now - 300, 5.0)]), 0
        )
        want0 = [("m", now - 600, 1.0), ("m", now - 540, 10.0),
                 ("m", now - 480, 3.0), ("n", now - 600, 4.0),
                 ("n", now - 300, 5.0)]
        want1 = [("m", now - 600, 14.0), ("n", now - 600, 4.0),
                 ("n", now - 300, 5.0)]
        assert (_points(st, 0), _points(st, 1)) == (want0, want1)
        assert self._grid(st) == {(m, ts): v for m, ts, v in want0}

        # compaction folds each tier to one row per slot
        st.compact({0: None, 1: None})
        for i, want in enumerate((want0, want1)):
            assert st._scan_tier(st.tier_path(i)).count() == len(want)
            assert _points(st, i) == want
        assert self._grid(st) == {(m, ts): v for m, ts, v in want0}


class TestOneLayout:
    def test_no_layout_option(self, spark, tmp_path):
        """The store takes no ``mode``; the ingest's ``store_mode``
        accepts only the one layout's name."""
        import inspect

        for fn in (ParquetTieredStore, ParquetTieredStore.migrate):
            assert "mode" not in inspect.signature(fn).parameters
        schemas = SchemaSet((SCHEMA,))
        with pytest.raises(ValueError, match="cow"):
            StreamingIngest(spark, schemas, str(tmp_path), store_mode="cow")
        ing = StreamingIngest(spark, schemas, str(tmp_path), store_mode="mor")
        assert ing.store_for(SCHEMA).commit.epoch() == 0
