"""The manifest-log commit protocol (VERDICT r9 "What's missing" #1):
snapshot isolation on plain parquet. Readers plan every scan from an
atomically-committed file list instead of directory listings, so a
read is one plain call against an immutable snapshot, maintenance
retires files LOGICALLY, and ``vacuum`` reclaims bytes after a grace
window — the local stand-in for a Delta/Iceberg commit log, built on
atomic-rename publication of small commit records."""

import os
import time

import pytest
from pyspark.sql import functions as F

from _writers import write_cow_layout
from kenshin_spark.commit import ManifestCommitProtocol
from kenshin_spark.config import Schema
from kenshin_spark.store import ParquetTieredStore

SCHEMA = Schema.from_strings("s", ".*", "60s:30d", xff=1.0)
DAY = 86400


def _mk(spark, tmp_path, schema=SCHEMA, name="st"):
    return ParquetTieredStore(spark, schema, str(tmp_path / name))


def _rows(spark, pts):
    return spark.createDataFrame(
        pts, "metric string, ts long, value double"
    )


def _disk_parquet(root, tier=0):
    out = []
    tdir = os.path.join(root, f"tier={tier}")
    for dirpath, _dirs, files in os.walk(tdir):
        out += [
            os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
        ]
    return out


class TestManifestProtocolSurface:
    def test_epoch_is_the_commit_count(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        assert st.commit.epoch() == 0
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        assert st.commit.epoch() == 1
        st.upsert(0, _rows(spark, [("m", 120, 2.0)]))
        assert st.commit.epoch() == 2
        # a transaction with no changes must not move the epoch
        with st.commit.txn():
            pass
        assert st.commit.epoch() == 2

    def test_manifest_pointer_flip_is_the_commit(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        latest = os.path.join(st.root, "_manifest", "_latest")
        assert st.fs.read_text(latest) == "1"
        snap = st.commit.snapshot()
        assert all(rel.startswith("tier=0/day=") for rel in snap)
        assert all(size > 0 for size in snap.values())


class TestManifestStoreRoundtrip:
    def test_mor_upsert_resolve(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0), ("m", 120, 2.0)]))
        st.upsert(0, _rows(spark, [("m", 120, 9.0)]))  # LWW overwrite
        got = {r["ts"]: r["value"] for r in st.read(0).collect()}
        assert got == {60: 1.0, 120: 9.0}

    def test_read_range_prunes_and_resolves(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [
            ("m", 60, 1.0), ("m", DAY + 60, 2.0), ("m", 2 * DAY + 60, 3.0),
        ]))
        got = [r["value"] for r in st.read_range(0, DAY, 2 * DAY).collect()]
        assert got == [2.0]

    def test_snapshot_reads_and_cdc(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        s1 = st.commit.epoch()
        st.upsert(0, _rows(spark, [("m", 60, 5.0), ("n", 120, 2.0)]))
        s2 = st.commit.epoch()
        at1 = {r["metric"]: r["value"]
               for r in st.read(0, version=s1).collect()}
        assert at1 == {"m": 1.0}
        diff = {(r["metric"], r["ts"], r["value"])
                for r in st.changed_between(0, s1, s2).collect()}
        assert diff == {("m", 60, 5.0), ("n", 120, 2.0)}


class TestSnapshotIsolation:
    def test_compact_retires_logically_not_physically(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        for k in range(3):  # fragment day 0 with three appends
            st.upsert(0, _rows(spark, [("m", 60 * (k + 1), float(k))]))
        before = set(_disk_parquet(st.root))
        assert st.compact(0, days=[0]) == [0]
        # old files persist on disk (a reader's snapshot stays valid)...
        assert before <= set(_disk_parquet(st.root))
        # ...but the committed view is the folded rewrite
        live = st.commit.live_files("tier=0")
        assert len(live) == 1
        got = {r["ts"]: r["value"] for r in st.read(0).collect()}
        assert got == {60: 0.0, 120: 1.0, 180: 2.0}

    def test_scan_planned_before_compact_survives_it(self, spark, tmp_path):
        """The headline guarantee: a DataFrame planned against snapshot N
        collects correctly even after maintenance committed N+1 — the
        scenario a listing-planned read would fail mid-scan on."""
        st = _mk(spark, tmp_path)
        for k in range(3):
            st.upsert(0, _rows(spark, [("m", 60 * (k + 1), float(k))]))
        pinned = st.read(0)  # planned now, collected later
        st.compact(0, days=[0])
        st.upsert(0, _rows(spark, [("m", 240, 9.0)]))
        got = {r["ts"]: r["value"] for r in pinned.collect()}
        assert got == {60: 0.0, 120: 1.0, 180: 2.0}  # its snapshot

    def test_expire_is_logical_until_vacuum(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0), ("m", 29 * DAY, 2.0)]))
        n_disk = len(_disk_parquet(st.root))
        dropped = st.expire(now=31 * DAY)
        assert dropped == {0: [0]}
        # immediately invisible to readers...
        assert [r["value"] for r in st.read(0).collect()] == [2.0]
        # ...but the bytes survive until the grace window passes
        assert len(_disk_parquet(st.root)) == n_disk
        removed = st.vacuum(grace_s=0.0, now=time.time() + 10)
        assert any("day=0" in r for r in removed)
        assert len(_disk_parquet(st.root)) < n_disk
        assert [r["value"] for r in st.read(0).collect()] == [2.0]

    def test_vacuum_respects_grace(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        st.compact(0, days=[0])
        assert st.vacuum(grace_s=3600.0) == []  # too young to reclaim
        removed = st.vacuum(grace_s=0.0, now=time.time() + 10)
        assert removed  # the pre-compact append file
        got = {r["ts"]: r["value"] for r in st.read(0).collect()}
        assert got == {60: 1.0}

    def test_stranded_adopted_files_are_invisible(self, spark, tmp_path):
        """Crash between adopt and manifest flip: files sit in the live
        tree but no manifest references them — readers never see them,
        vacuum reclaims them."""
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        # strand a rogue file next to the live one
        live_rel, _ = st.commit.live_files("tier=0")[0]
        src = os.path.join(st.root, live_rel)
        rogue = os.path.join(os.path.dirname(src), "deadbeef-stranded.parquet")
        import shutil

        shutil.copyfile(src, rogue)
        assert st.read(0).count() == 1  # not double-counted
        removed = st.vacuum(grace_s=0.0, now=time.time() + 10)
        assert any("stranded" in r for r in removed)
        assert not os.path.exists(rogue)

    def test_vacuum_trims_old_manifests_keeps_the_chain(
        self, spark, tmp_path
    ):
        """Delta-log shape (the Delta `_delta_log` analog): commits
        between checkpoints are O(changed-files) deltas; vacuum keeps
        the latest checkpoint + its delta tail and reclaims everything
        older — a cold re-open must still reconstruct exactly."""
        st = _mk(spark, tmp_path)
        for k in range(12):
            st.upsert(0, _rows(spark, [("m", 60 * (k + 1), 1.0)]))
        mdir = os.path.join(st.root, "_manifest")
        pre = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
        # checkpoints at 1 and 10; deltas elsewhere
        assert "0000000001.json" in pre and "0000000010.json" in pre
        assert "0000000002.d.json" in pre and "0000000012.d.json" in pre
        st.vacuum(grace_s=0.0, now=time.time() + 10)
        post = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
        # everything below the anchor checkpoint (10) is gone; the
        # chain 10 -> 11 -> 12 survives
        assert post == [
            "0000000010.json", "0000000011.d.json", "0000000012.d.json"
        ]
        assert st.read(0).count() == 12
        # cold re-open reconstructs from checkpoint + deltas
        cold = ParquetTieredStore(
            st.spark, SCHEMA, st.root
        )
        assert cold.commit.epoch() == 12
        assert cold.read(0).count() == 12


class TestManifestMaintenance:
    def test_full_compact_and_file_report(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        for k in range(4):
            st.upsert(0, _rows(spark, [
                ("m", 60 * (k + 1), float(k)), ("m", DAY + 60 * (k + 1), 1.0),
            ]))
        rep = st.file_report(0)
        assert [r["day"] for r in rep] == [0, 1]
        assert all(r["n_files"] == 4 for r in rep)
        assert st.needs_compaction(0, max_files_per_day=2) == [0, 1]
        st.compact(0)
        rep = st.file_report(0)
        assert all(r["n_files"] == 1 for r in rep)
        assert st.read(0).count() == 8

    def test_delete_metrics_is_one_transaction(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("keep", 60, 1.0), ("doom", 60, 2.0)]))
        st.catalog_add(spark.createDataFrame(
            [("keep", "s", 0), ("doom", "s", 0)],
            "metric string, schema_name string, created_ts long",
        ))
        e0 = st.commit.epoch()
        st.delete_metrics(["doom"])
        assert st.commit.epoch() == e0 + 1  # tiers + catalog in ONE commit
        assert [r["metric"] for r in st.read(0).collect()] == ["keep"]
        assert [r["metric"] for r in st.catalog().collect()] == ["keep"]

    def test_fetch_glob_uses_manifest_catalog(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("sys.cpu.a", 60, 1.0)]))
        st.catalog_add(spark.createDataFrame(
            [("sys.cpu.a", "s", 0)],
            "metric string, schema_name string, created_ts long",
        ))
        grid = st.fetch_glob("sys.cpu.*", 0, 120, now=120)
        vals = [r["value"] for r in grid.collect() if r["value"] is not None]
        assert vals == [1.0]

    def test_overwrite_replaces_tier(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0), ("m", DAY + 60, 2.0)]))
        st.overwrite(0, _rows(spark, [("m", 60, 8.0)]))
        got = {r["ts"]: r["value"] for r in st.read(0).collect()}
        assert got == {60: 8.0}

    def test_backup_carries_the_manifest(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        st.compact(0, days=[0])
        dest = str(tmp_path / "bak")
        st.backup_to(dest)
        restored = ParquetTieredStore(
            spark, SCHEMA, dest
        )
        got = {r["ts"]: r["value"] for r in restored.read(0).collect()}
        assert got == {60: 1.0}
        # the restored manifest excludes the retired pre-compact file
        assert len(restored.commit.live_files("tier=0")) == 1


class TestManifestServing:
    def test_reader_clone_propagates_the_backend(self, spark, tmp_path):
        from kenshin_spark.serving import reader_clone

        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        reader = reader_clone(st)
        assert reader.spark is not st.spark  # isolated SQL conf
        assert reader.commit.epoch() == st.commit.epoch()
        assert (
            reader.spark.conf.get(
                "spark.sql.files.ignoreMissingFiles", "false"
            )
            == "false"
        )  # planning from the log never needs missing-file tolerance
        got = {r["ts"]: r["value"] for r in reader.read(0).collect()}
        assert got == {60: 1.0}

    def test_serving_fns_never_degrade(self, spark, tmp_path):
        from kenshin_spark.serving import store_serving_fns

        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        lookup, fetch_fn = store_serving_fns(st)
        assert lookup("m") == [(60, 1.0)]
        # a fold committed between lookups: the next answer is exact
        st.upsert(0, _rows(spark, [("m", 60, 2.0)]))
        st.compact(0, days=[0])
        assert lookup("m") == [(60, 2.0)]
        assert fetch_fn(["m"], 60, 120, 120) == [("m", 60, 2.0)]


class TestTombstoneVacuum:
    """vacuum ages tracked files by RETIREMENT time recorded in the
    manifest (Delta's RemoveFile.deletionTimestamp analog), never by
    file mtime (ADVICE r10 high): a file written long ago but retired a
    second ago gets the full grace window, so a scan planned from the
    pre-retirement snapshot can still finish."""

    def test_old_file_retired_now_survives_the_grace(
        self, spark, tmp_path
    ):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        # age the data file on disk WAY past any grace window
        old = time.time() - 7 * 86400
        for p in _disk_parquet(st.root):
            os.utime(p, (old, old))
        live_before = _disk_parquet(st.root)
        # retire it logically a moment ago (compact folds the append log)
        st.upsert(0, _rows(spark, [("m", 120, 2.0)]))
        st.compact(0, days=st._live_days(0))
        # the mtime-gated bug would reclaim the week-old file here even
        # though it was retired < grace_s ago
        removed = st.vacuum(grace_s=3600.0)
        assert removed == []
        for p in live_before:
            assert os.path.exists(p), "retired-within-grace file reclaimed"
        # past the grace window (by retirement stamp) it IS reclaimed
        removed = st.vacuum(grace_s=3600.0, now=time.time() + 7200)
        assert removed
        got = {r["ts"]: r["value"] for r in st.read(0).collect()}
        assert got == {60: 1.0, 120: 2.0}

    def test_reclaim_clears_the_tombstone_from_the_manifest(
        self, spark, tmp_path
    ):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        st.upsert(0, _rows(spark, [("m", 120, 2.0)]))
        st.compact(0, days=st._live_days(0))
        assert st.commit.tombstones()  # the folded append files
        st.vacuum(grace_s=0.0, now=time.time() + 10)
        assert st.commit.tombstones() == {}  # log does not grow forever

    def test_untracked_debris_still_uses_the_mtime_gate(
        self, spark, tmp_path
    ):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        live_rel, _ = st.commit.live_files("tier=0")[0]
        src = os.path.join(st.root, live_rel)
        rogue = os.path.join(
            os.path.dirname(src), "deadbeef-stranded.parquet"
        )
        import shutil

        shutil.copyfile(src, rogue)
        # young debris survives; old debris is swept
        assert st.vacuum(grace_s=3600.0) == []
        assert os.path.exists(rogue)
        old = time.time() - 7200
        os.utime(rogue, (old, old))
        removed = st.vacuum(grace_s=3600.0)
        assert any("stranded" in r for r in removed)
        assert not os.path.exists(rogue)


class TestEpochErrorPropagation:
    """epoch() translates ONLY missing-pointer to 0 (ADVICE r10 medium):
    a transient IO error must propagate, or the next commit rebuilds the
    file list from {} and silently drops every live file."""

    def test_missing_pointer_is_epoch_zero(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        assert st.commit.epoch() == 0

    def test_io_error_propagates_not_empty_store(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        assert st.commit.epoch() == 1

        real = st.commit.fs.read_text

        def flaky(path):
            if path.endswith("_latest"):
                raise PermissionError("transient ACL hiccup")
            return real(path)

        st.commit.fs.read_text = flaky
        try:
            with pytest.raises(PermissionError):
                st.commit.epoch()
            # the write path must not silently rebuild from {}
            from kenshin_spark.commit import ManifestTxn

            tx = ManifestTxn()
            tx.add("tier=0/day=0/bogus.parquet", 1)
            with pytest.raises(PermissionError):
                st.commit.commit_txn(tx)
        finally:
            st.commit.fs.read_text = real
        # store intact after the hiccup clears
        assert st.commit.epoch() == 1
        assert {r["ts"] for r in st.read(0).collect()} == {60}


class TestScopedPlanningConf:
    def test_session_conf_not_left_mutated(self, spark, tmp_path):
        """The parallel-partition-discovery override applies only while
        an explicit-file-list scan is being planned — opening a manifest
        store (or reading it) must not change planning behavior for
        every other scan in the session (ADVICE r10)."""
        key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        before = spark.conf.get(key)
        st = _mk(spark, tmp_path)
        assert spark.conf.get(key) == before  # constructor: untouched
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        assert st.read(0).count() == 1
        assert spark.conf.get(key) == before  # read: set + restored

    def test_open_leaves_partition_overwrite_mode_unset(
        self, spark, tmp_path
    ):
        """Every store write stages into a fresh directory, so the store
        has no use for dynamic partition overwrite — and setting it for
        the session would change every other partitioned overwrite the
        caller runs."""
        key = "spark.sql.sources.partitionOverwriteMode"
        spark.conf.unset(key)
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        assert st.read(0).count() == 1
        assert spark.conf.get(key, None) is None


class TestReplayGuard:
    """The committed stream batch id (Delta's ``SetTransaction``) rides
    the manifest log: it commits on its own, survives checkpoints and
    vacuum's log trim, and an empty transaction still commits nothing."""

    def _proto(self, spark, tmp_path):
        root = str(tmp_path / "guard")
        return ManifestCommitProtocol(_mk(spark, tmp_path).fs, root), root

    def _commit(self, proto, k, batch_id=None):
        from kenshin_spark.commit import ManifestTxn

        tx = ManifestTxn(op="ingest")
        tx.add(f"docs/f{k}.parquet", 10)
        tx.batch_id = batch_id
        return proto.commit_txn(tx)

    def test_batch_id_survives_checkpoint_and_log_trim(
        self, spark, tmp_path
    ):
        proto, root = self._proto(spark, tmp_path)
        self._commit(proto, 0, batch_id=4)
        assert proto.committed_batch() == 4
        # ride past the next checkpoint on commits that carry no id
        k = 1
        while proto.epoch() % proto.checkpoint_every != 0:
            self._commit(proto, k)
            k += 1
        self._commit(proto, k)  # a delta above the checkpoint
        assert proto.epoch() == proto.checkpoint_every + 1
        assert proto.committed_batch() == 4
        # the trim drops every record below the checkpoint — including
        # the one that committed the id
        removed = proto.vacuum([], grace_s=0.0, now=time.time() + 10)
        assert "_manifest/0000000001.json" in removed
        cold = ManifestCommitProtocol(proto.fs, root)
        assert cold.committed_batch() == 4
        assert cold.committed_batch(seq=proto.checkpoint_every) == 4

    def test_a_batch_id_alone_commits_an_empty_txn_does_not(
        self, spark, tmp_path
    ):
        from kenshin_spark.commit import ManifestConflict, ManifestTxn

        proto, _ = self._proto(spark, tmp_path)
        self._commit(proto, 0, batch_id=0)
        assert proto.epoch() == 1
        tx = ManifestTxn(op="ingest")
        tx.batch_id = 1  # an empty batch: no files, only its id
        assert proto.commit_txn(tx) == 2
        assert proto.committed_batch() == 1
        assert proto.snapshot() == {"docs/f0.parquet": 10}
        with proto.txn():  # no files, no id
            pass
        assert proto.epoch() == 2
        # a replayed id never commits twice
        tx = ManifestTxn(op="ingest")
        tx.batch_id = 1
        with pytest.raises(ManifestConflict, match="batch 1"):
            proto.commit_txn(tx)
        assert proto.epoch() == 2


class TestDeltaLog:
    """The checkpoint+delta manifest shape: per-commit metadata is
    O(changed files), reconstruction replays the delta tail from the
    nearest checkpoint, and a broken chain fails LOUDLY (never an
    empty store)."""

    def test_deltas_are_o_changed_files_not_o_store(self, spark, tmp_path):
        import json

        st = _mk(spark, tmp_path)
        # one wide base commit (many files), then a one-row commit
        st.upsert(0, _rows(
            spark,
            [("m%d" % i, 86400 * (i % 9) + 60, 1.0) for i in range(27)],
        ))
        st.upsert(0, _rows(spark, [("m0", 120, 2.0)]))
        d = json.loads(open(
            os.path.join(st.root, "_manifest", "0000000002.d.json")
        ).read())
        assert "files" not in d  # not a snapshot
        assert len(d["adds"]) <= 3  # the touched partition only
        n_live = len(st.commit.live_files(""))
        assert n_live > len(d["adds"])  # store >> delta

    def test_reconstruction_equals_per_commit_state(self, spark, tmp_path):
        """After each of 23 commits (crossing two checkpoints), a COLD
        protocol instance must reconstruct the exact same file list the
        writer's cache holds."""
        from kenshin_spark.commit import ManifestCommitProtocol

        st = _mk(spark, tmp_path)
        for k in range(23):
            st.upsert(0, _rows(spark, [("m", 60 * (k + 1), float(k))]))
            cold = ManifestCommitProtocol(st.fs, st.root)
            assert cold.epoch() == k + 1
            assert cold.snapshot() == st.commit.snapshot()
            assert cold.tombstones() == st.commit.tombstones()

    def test_time_travel_within_the_retained_window(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        for k in range(12):
            st.upsert(0, _rows(spark, [("m", 60 * (k + 1), 1.0)]))
        # snapshot at seq 11 (delta above checkpoint 10) has one file
        # fewer than seq 12
        assert len(st.commit.snapshot(11)) == len(st.commit.snapshot()) - 1

    def test_broken_chain_raises_not_empty(self, spark, tmp_path):
        from kenshin_spark.commit import ManifestCommitProtocol

        st = _mk(spark, tmp_path)
        for k in range(4):
            st.upsert(0, _rows(spark, [("m", 60 * (k + 1), 1.0)]))
        # destroy the anchor checkpoint AND an in-chain delta
        os.remove(os.path.join(st.root, "_manifest", "0000000001.json"))
        os.remove(os.path.join(st.root, "_manifest", "0000000003.d.json"))
        cold = ManifestCommitProtocol(st.fs, st.root)
        with pytest.raises(ValueError, match="manifest chain broken"):
            cold.snapshot()

    def test_checkpoint_cadence_is_configurable(self, spark, tmp_path):
        from kenshin_spark.commit import ManifestCommitProtocol, ManifestTxn

        proto = ManifestCommitProtocol(
            _mk(spark, tmp_path).fs, str(tmp_path / "st"),
            checkpoint_every=3,
        )
        for k in range(7):
            tx = ManifestTxn()
            tx.add(f"tier=0/day=0/f{k}.parquet", 10)
            proto.commit_txn(tx)
        mdir = os.path.join(str(tmp_path / "st"), "_manifest")
        names = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
        fulls = [n for n in names if not n.endswith(".d.json")]
        assert fulls == [
            "0000000001.json", "0000000003.json", "0000000006.json"
        ]
        assert len(proto.snapshot()) == 7


class TestOptimisticConcurrency:
    """Multi-writer CAS (the Delta protocol shape, r11): the commit
    point is the exclusive publication of the <seq> record. Pure-add
    writers rebase and never lose updates; destructive transactions
    conflict loudly when a concurrent commit added files under a
    dropped prefix; the _latest pointer is a probe-forward HINT."""

    def _proto(self, st):
        from kenshin_spark.commit import ManifestCommitProtocol

        return ManifestCommitProtocol(st.fs, st.root)

    def test_concurrent_adds_both_commit(self, spark, tmp_path):
        from kenshin_spark.commit import ManifestTxn

        st = _mk(spark, tmp_path)
        a, b = self._proto(st), self._proto(st)
        ta = ManifestTxn(read_seq=a.epoch())
        ta.add("tier=0/day=0/a.parquet", 1)
        tb = ManifestTxn(read_seq=b.epoch())
        tb.add("tier=0/day=0/b.parquet", 2)
        # interleave: both planned at seq 0; A commits first, B rebases
        assert a.commit_txn(ta) == 1
        assert b.commit_txn(tb) == 2
        snap = self._proto(st).snapshot()
        assert set(snap) == {
            "tier=0/day=0/a.parquet", "tier=0/day=0/b.parquet"
        }

    def test_drop_conflicts_with_concurrent_add_under_prefix(
        self, spark, tmp_path
    ):
        from kenshin_spark.commit import ManifestConflict, ManifestTxn

        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        a, b = self._proto(st), self._proto(st)
        # A plans a compaction of day=0 at seq 1...
        ta = ManifestTxn(read_seq=a.epoch())
        ta.replace("tier=0/day=0", [("tier=0/day=0/folded.parquet", 9)])
        # ...B appends into day=0 and commits first
        tb = ManifestTxn(read_seq=b.epoch())
        tb.add("tier=0/day=0/late-append.parquet", 3)
        b.commit_txn(tb)
        with pytest.raises(ManifestConflict, match="late-append"):
            a.commit_txn(ta)
        # the late append is still live — nothing was silently retired
        assert "tier=0/day=0/late-append.parquet" in self._proto(
            st
        ).snapshot()

    def test_drop_rebases_over_disjoint_concurrent_add(
        self, spark, tmp_path
    ):
        from kenshin_spark.commit import ManifestTxn

        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        a, b = self._proto(st), self._proto(st)
        ta = ManifestTxn(read_seq=a.epoch())
        ta.replace("tier=0/day=0", [("tier=0/day=0/folded.parquet", 9)])
        tb = ManifestTxn(read_seq=b.epoch())
        tb.add("tier=1/day=0/other-tier.parquet", 3)  # disjoint prefix
        b.commit_txn(tb)
        a.commit_txn(ta)  # rebase succeeds: no overlap with the drop
        snap = self._proto(st).snapshot()
        assert "tier=0/day=0/folded.parquet" in snap
        assert "tier=1/day=0/other-tier.parquet" in snap

    def test_crash_between_publish_and_hint_still_committed(
        self, spark, tmp_path
    ):
        from kenshin_spark.commit import ManifestTxn

        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        proto = self._proto(st)
        # simulate the crash window: publish seq 2 by hand, never flip
        tx = ManifestTxn(read_seq=proto.epoch())
        tx.add("tier=0/day=0/crashed.parquet", 5)
        orig = proto.fs.write_text_atomic
        def no_hint(path, text):
            if path.endswith("_latest"):
                return  # died before the flip
            orig(path, text)
        proto.fs.write_text_atomic = no_hint
        try:
            proto.commit_txn(tx)
        finally:
            proto.fs.write_text_atomic = orig
        assert st.fs.read_text(
            os.path.join(st.root, "_manifest", "_latest")
        ) == "1"  # hint is stale...
        cold = self._proto(st)
        assert cold.epoch() == 2  # ...but the probe finds the commit
        assert "tier=0/day=0/crashed.parquet" in cold.snapshot()

    def test_threaded_add_hammer_loses_nothing(self, spark, tmp_path):
        import threading

        from kenshin_spark.commit import ManifestTxn

        st = _mk(spark, tmp_path)
        N, M = 6, 8
        errors = []

        def writer(w):
            proto = self._proto(st)
            try:
                for k in range(M):
                    tx = ManifestTxn(read_seq=proto.epoch())
                    tx.add(f"tier=0/day=0/w{w}-{k}.parquet", 1)
                    proto.commit_txn(tx)
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        threads = [
            threading.Thread(target=writer, args=(w,)) for w in range(N)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        cold = self._proto(st)
        assert cold.epoch() == N * M
        assert len(cold.snapshot()) == N * M  # every add survived


class TestTimeTravel:
    """Version-pinned reads + DESCRIBE HISTORY on the manifest log —
    Delta's ``versionAsOf`` semantics: a read planned at seq v sees
    the file list as committed THEN, reaching back across later
    compactions/expiries (which fold the mor log to stamp 0), valid
    until vacuum reclaims the snapshot's files or trims the log below
    its anchor checkpoint."""

    def test_version_read_reaches_across_compaction(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        v1 = st.commit.epoch()
        st.upsert(0, _rows(spark, [("m", 120, 2.0), ("m", 60, 5.0)]))
        v2 = st.commit.epoch()
        st.compact(0, days=st._live_days(0))
        assert [(r.ts, r.value) for r in
                sorted(st.read(0, version=v1).collect())] == [(60, 1.0)]
        # v2 still LWW-resolves within the pinned file set
        assert [(r.ts, r.value) for r in
                sorted(st.read(0, version=v2).collect())] == [
            (60, 5.0), (120, 2.0)]
        assert [(r.ts, r.value) for r in
                sorted(st.read(0).collect())] == [(60, 5.0), (120, 2.0)]

    def test_version_read_reaches_across_expiry(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        now = 40 * DAY
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))  # day 0: expired
        st.upsert(0, _rows(spark, [("m", now - 60, 2.0)]))
        v_pre = st.commit.epoch()
        dropped = st.expire(now)
        assert dropped[0]  # day 0 went
        assert st.read(0).count() == 1
        got = sorted(st.read(0, version=v_pre).collect())
        assert [(r.ts, r.value) for r in got] == [
            (60, 1.0), (now - 60, 2.0)]

    def test_bad_versions_raise(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        with pytest.raises(ValueError, match="committed range"):
            st.read(0, version=99)
        with pytest.raises(ValueError, match="committed range"):
            st.read(0, version=0)

    def test_vacuum_ends_the_travel_window(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        v1 = st.commit.epoch()
        st.upsert(0, _rows(spark, [("m", 60, 9.0)]))
        st.compact(0, days=st._live_days(0))
        # within grace the pinned snapshot's files still exist
        st.vacuum(grace_s=3600.0)
        assert st.read(0, version=v1).collect()[0].value == 1.0
        # past grace the compacted-away file is physically gone: the
        # pinned read fails LOUDLY (planning or execution), never
        # silently returns partial data
        st.vacuum(grace_s=0.0, now=time.time() + 60)
        with pytest.raises(Exception):
            st.read(0, version=v1).collect()

    def test_history_records_ops_newest_first(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        st.upsert(0, _rows(spark, [("m", 120, 2.0)]))
        st.compact(0, days=st._live_days(0))
        h = st.history()
        assert [r["seq"] for r in h] == sorted(
            (r["seq"] for r in h), reverse=True)
        assert [r["op"] for r in h][:3] == ["compact", "upsert", "upsert"]
        assert all(isinstance(r["ts"], float) for r in h)
        compacted = h[0]
        assert compacted["n_added"] >= 1 and compacted["n_dropped"] >= 1
        # seq 1 is always a checkpoint and carries the live count
        assert h[-1]["checkpoint"] and h[-1]["n_live"] == 1
        assert st.history(limit=2) == h[:2]

    def test_history_and_travel_survive_a_cold_reopen(
        self, spark, tmp_path
    ):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        v1 = st.commit.epoch()
        st.upsert(0, _rows(spark, [("m", 60, 3.0)]))
        cold = ParquetTieredStore(
            spark, SCHEMA, st.root
        )
        assert cold.read(0, version=v1).collect()[0].value == 1.0
        assert [r["op"] for r in cold.history()] == ["upsert", "upsert"]


class TestOneVersionCounter:
    """The manifest commit seq is the store's only version number: a
    mor write stamps its rows with the seq that commits it, and pinned
    reads, CDC and catch-up all travel over those seqs — so they reach
    across compactions, which fold every stamp to 0."""

    def _pinned(self, spark, tmp_path, schema=SCHEMA):
        st = _mk(spark, tmp_path, schema=schema)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        s1 = st.commit.epoch()
        st.upsert(0, _rows(spark, [("m", 60, 5.0)]))
        s2 = st.commit.epoch()
        return st, s1, s2

    def test_pinned_read_and_diff_survive_a_compaction(
        self, spark, tmp_path
    ):
        st, s1, s2 = self._pinned(spark, tmp_path)
        st.compact(0)
        assert [tuple(r) for r in st.read(0, version=s1).collect()] == [
            ("m", 60, 1.0)]
        assert [tuple(r) for r in st.changed_between(0, s1, s2).collect()
                ] == [("m", 60, 5.0)]

    def test_catch_up_across_a_compaction_converges(self, spark, tmp_path):
        schema = Schema.from_strings("s", ".*", "60s:30d,300s:90d", xff=1.0)
        st = _mk(spark, tmp_path, schema=schema)
        first = _rows(spark, [("m", 60, 1.0)])
        st.upsert(0, first)
        st.propagate(first)
        pinned = st.commit.epoch()
        # a tier-0 write that bypassed the cascade, then folded away
        st.upsert(0, _rows(spark, [("m", 60, 9.0)]))
        st.compact(0)
        st.propagate_from_seq(pinned)
        # a rebuild from tier 0 gives avg(9.0) for the 300 s slot
        assert [tuple(r) for r in st.read(1).collect()] == [("m", 0, 9.0)]

    def test_diff_frame_launches_no_spark_job(self, spark, tmp_path):
        st, s1, s2 = self._pinned(spark, tmp_path)
        sc = spark.sparkContext
        group = "changed-between-plan"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            diff = st.changed_between(0, s1, s2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert [tuple(r) for r in diff.collect()] == [("m", 60, 5.0)]

    def test_diff_works_on_cow_and_refuses_past_the_horizon(
        self, spark, tmp_path
    ):
        """The diff reaches back over rows stored in the retired
        copy-on-write layout (unstamped); once compaction retired those
        files and vacuum reclaimed them, a diff from that seq raises."""
        st = _mk(spark, tmp_path)
        s1 = write_cow_layout(
            st, {0: _rows(spark, [("m", 60, 1.0), ("n", DAY + 60, 2.0)])}
        )
        st.upsert(0, _rows(spark, [("m", 60, 3.0)]))
        s2 = st.commit.epoch()
        assert [tuple(r) for r in st.changed_between(0, s1, s2).collect()
                ] == [("m", 60, 3.0)]
        st.compact(0)
        st.vacuum(grace_s=0.0, now=time.time() + 60)
        with pytest.raises(ValueError, match="retention horizon"):
            st.changed_between(0, s1, s2)
        with pytest.raises(ValueError, match="retention horizon"):
            st.propagate_from_seq(s1)

    def test_allocator_stamped_root_is_refused_until_migrate(
        self, spark, tmp_path
    ):
        """A mor tree the retired allocator stamped up to 100, adopted
        into the log at seq 1: its stamps outrank every new write, so
        opening it must fail loudly until ``migrate`` folds it."""
        from kenshin_spark.commit import ManifestCommitProtocol
        from kenshin_spark.fs import HadoopFS
        from kenshin_spark.store import LegacyTreeError

        root = str(tmp_path / "old")
        spark.createDataFrame(
            [("m", 60, 1.0, 0, 100)],
            "metric string, ts long, value double, day long, _seq long",
        ).write.partitionBy("day").parquet(os.path.join(root, "tier=0"))
        with ManifestCommitProtocol(HadoopFS(spark, root), root).txn(
            op="migrate"
        ) as tx:
            for path in _disk_parquet(root):
                tx.add(os.path.relpath(path, root), os.path.getsize(path))
        with open(os.path.join(root, "_seq.json"), "w") as fh:
            fh.write('{"last_seq": 100}')
        with pytest.raises(LegacyTreeError, match="migrate"):
            ParquetTieredStore(spark, SCHEMA, root)
        st = ParquetTieredStore.migrate(spark, SCHEMA, root)
        assert not os.path.exists(os.path.join(root, "_seq.json"))
        assert st.history()[0]["op"] == "compact"
        st.upsert(0, _rows(spark, [("m", 60, 2.0)]))
        assert [tuple(r) for r in st.read(0).collect()] == [("m", 60, 2.0)]


class TestRestore:
    """RESTORE TABLE: roll the live set back to a pinned seq in ONE
    forward metadata commit — drops files added since, re-adds retired
    ones (clearing tombstones); fails loudly, changing nothing, when
    the snapshot is past the vacuum horizon."""

    def test_restore_rolls_back_a_bad_ingest(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        good = st.commit.epoch()
        st.upsert(0, _rows(spark, [("m", 60, 666.0), ("m", 120, 667.0)]))
        st.restore(good)
        assert [(r.ts, r.value) for r in sorted(st.read(0).collect())] == [
            (60, 1.0)]
        # the rollback is itself a commit with its own op label
        assert st.history()[0]["op"] == "restore"
        # and the bad batch's files are tombstoned for vacuum
        assert st.commit.tombstones()

    def test_restore_readds_compacted_away_files(self, spark, tmp_path):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        pre = st.commit.epoch()
        st.upsert(0, _rows(spark, [("m", 60, 2.0)]))
        st.compact(0, days=st._live_days(0))
        st.restore(pre)
        assert st.read(0).collect()[0].value == 1.0
        # restore is restorable: roll forward again to the fold
        head = st.history()
        fold = next(r["seq"] for r in head if r["op"] == "compact")
        st.restore(fold)
        assert st.read(0).collect()[0].value == 2.0

    def test_restore_past_vacuum_horizon_changes_nothing(
        self, spark, tmp_path
    ):
        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))
        pre = st.commit.epoch()
        st.upsert(0, _rows(spark, [("m", 60, 2.0)]))
        st.compact(0, days=st._live_days(0))
        st.vacuum(grace_s=0.0, now=time.time() + 60)
        before = st.commit.epoch()
        with pytest.raises(ValueError, match="retention horizon"):
            st.restore(pre)
        assert st.commit.epoch() == before  # nothing committed
        assert st.read(0).collect()[0].value == 2.0

class TestCrossProcessConcurrency:
    """The OCC claim done for REAL: separate OS processes (their own
    JVMs, no shared GIL) hammer pure-add commits against one manifest
    dir; the hard-link CAS publication must serialize every commit —
    final epoch == total commits and no add is lost."""

    def test_two_processes_plus_local_writer_lose_nothing(
        self, spark, tmp_path
    ):
        import subprocess
        import sys
        import textwrap

        st = _mk(spark, tmp_path)
        st.upsert(0, _rows(spark, [("m", 60, 1.0)]))  # seed the log
        base = st.commit.epoch()

        script = textwrap.dedent(
            """
            import sys
            root, tag = sys.argv[1], sys.argv[2]
            from kenshin_spark.session import get_spark
            from kenshin_spark.fs import HadoopFS
            from kenshin_spark.commit import (
                ManifestCommitProtocol, ManifestTxn,
            )
            spark = get_spark("occ-" + tag, cpus=1)
            proto = ManifestCommitProtocol(HadoopFS(spark, root), root)
            for k in range(10):
                tx = ManifestTxn(read_seq=proto.epoch(), op="upsert")
                tx.add(f"tier=0/day=0/{tag}-{k}.parquet", 1)
                proto.commit_txn(tx)
            print("DONE", tag)
            """
        )
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", script, st.root, f"p{i}"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                cwd="/root/repo",
            )
            for i in range(2)
        ]
        # the in-process writer races them through the same CAS
        from kenshin_spark.commit import (
            ManifestCommitProtocol, ManifestTxn,
        )

        proto = ManifestCommitProtocol(st.fs, st.root)
        for k in range(10):
            tx = ManifestTxn(read_seq=proto.epoch(), op="upsert")
            tx.add(f"tier=0/day=0/main-{k}.parquet", 1)
            proto.commit_txn(tx)
        for p in procs:
            out, err = p.communicate(timeout=300)
            assert p.returncode == 0, err.decode()[-2000:]
            assert b"DONE" in out
        cold = ManifestCommitProtocol(st.fs, st.root)
        assert cold.epoch() == base + 30
        snap = cold.snapshot()
        for tag in ("main", "p0", "p1"):
            for k in range(10):
                assert f"tier=0/day=0/{tag}-{k}.parquet" in snap, (
                    tag, k)
