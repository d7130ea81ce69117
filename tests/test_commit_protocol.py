"""Opening a store root under the one commit protocol, the manifest log:
fresh and logged roots open on it, a tree written outside the log is
refused until ``migrate`` adopts it, and a first write that crashed
before its commit stays invisible. Also the write paths' commit-shape
invariants: a multi-day compaction is one commit, and a cow upsert
refuses a day set that misses a day its batch touches."""

import os

import pytest

from kenshin_spark.commit import ManifestCommitProtocol
from kenshin_spark.config import Schema
from kenshin_spark.store import LegacyTreeError, ParquetTieredStore

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
        st = ParquetTieredStore(spark, SCHEMA, root, mode="mor")

        def crash(tx, now=None):
            raise OSError("died before publishing the commit record")

        st.commit.commit_txn = crash
        with pytest.raises(OSError):
            st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        on_disk = [f for _, _, fs in os.walk(os.path.join(root, "tier=0"))
                   for f in fs if f.endswith(".parquet")]
        assert on_disk  # the adopted file sits in the live tree
        reopened = ParquetTieredStore(spark, SCHEMA, root, mode="mor")
        assert reopened.commit.epoch() == 0
        assert _points(reopened) == []


class TestBatchedCompactionGuard:
    def test_multi_day_compact_is_one_epoch_transition(self, spark, tmp_path):
        """compact(days=[...]) folds every requested day in one job and
        commits them in ONE transaction: the epoch moves by exactly one
        regardless of day count."""
        st = ParquetTieredStore(
            spark, SCHEMA, str(tmp_path / "st"), mode="mor"
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


class TestCowDaySetInvariant:
    def test_upsert_days_missing_a_touched_day_raises(self, spark, tmp_path):
        """A cow merge drops only the supplied days before adding its
        rewrites: a batch touching d1 and d2 upserted with
        ``days=[d1]`` would leave d2's old row beside the new one. The
        upsert must raise instead, committing nothing."""
        st = ParquetTieredStore(
            spark, SCHEMA, str(tmp_path / "st"), mode="cow"
        )
        st.upsert(0, _rows(spark, [("m", 60, 1.0), ("m", DAY + 60, 2.0)]))
        before = _points(st)
        epoch = st.commit.epoch()
        with pytest.raises(ValueError, match="day=1"):
            st.upsert(
                0,
                _rows(spark, [("m", 60, 5.0), ("m", DAY + 60, 6.0)]),
                days=[0],
            )
        assert st.commit.epoch() == epoch
        assert _points(st) == before
