"""ParquetTieredStore — the persistent, partitioned replacement for the
reference's fixed-size .hs archive files.

Reference storage model (kenshin/storage.py:21-33): one preallocated file =
header + one ring of points per retention tier; writes land at
O(1) ring offsets (kenshin/storage.py:499-503), retention expiry is the
ring overwriting itself, and flushes batch ~cacheRetention seconds of data
per file (rurouni/cache.py:259-262).

Spark-native equivalent, designed for 100 TB:

- **Layout**: one directory per tier, Parquet partitioned by ``day``
  (``ts // 86400`` — integer epoch day). Time-range predicates prune at
  the partition level; metric predicates prune via Parquet row-group
  stats + pushed filters. At cluster scale add
  ``.bucketBy(metric)``/liquid clustering per tier — the layout below is
  identical, only the writer call changes.
- **Upsert** (the ring overwrite, kenshin/storage.py:468-480): merge the
  batch with the *touched day partitions only* under last-write-wins,
  then replace exactly those days' files in one manifest commit. Untouched
  partitions are never read or rewritten — the 100 TB analog of the
  reference's "one sequential write per file" (README.md:63-66).
- **Retention expiry** (the ring's self-overwrite, SURVEY O4): drop whole
  day partitions older than the tier's retention. Sub-day precision is
  enforced at fetch time by R1's clamping, so expiry never has to
  rewrite a partition.
- **Catalog** (the index files, rurouni/storage.py:56-77): a tiny
  ``metrics`` Parquet dim table ``(metric, schema_name, created_ts)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import threading
from contextlib import contextmanager
from dataclasses import dataclass

from kenshin_spark.commit import ManifestCommitProtocol, ManifestConflict
from kenshin_spark.config import AGG_SQL, Schema
from kenshin_spark.fs import HadoopFS
from kenshin_spark.operators.align import align_ts

DAY = 86400
HOUR = 3600

#: Manifest scans pass EXPLICIT file lists; above the default threshold
#: (32 paths) Spark's InMemoryFileIndex launches a parallel-listing JOB
#: per scan, which FIFO-queues behind writer jobs — measured ~1 s added
#: to every scan at 300 live files (and a 2x phase-A writer wall in the
#: 1M load capture), back when serving reads were Spark scans; they
#: are ``ArrowReader`` reads now, and the override serves the store's
#: own scans (reads, merges, compaction). Driver-side sequential stat
#: of local/HDFS paths is micro-seconds per file. The override is
#: scoped to the explicit-list planning call (set/restore under a
#: refcount so stacked store scans don't flap it) instead of mutating
#: the session conf for every other scan in the SparkSession.
_PPD_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_ppd_lock = threading.Lock()
_ppd_depth: dict[int, tuple[int, str | None]] = {}  # id(spark) -> (n, prev)


@contextmanager
def _explicit_list_planning(spark):
    sid = id(spark)
    with _ppd_lock:
        depth, prev = _ppd_depth.get(sid, (0, None))
        if depth == 0:
            try:
                prev = spark.conf.get(_PPD_KEY)
            except Exception:
                prev = None
            spark.conf.set(_PPD_KEY, "1000000")
        _ppd_depth[sid] = (depth + 1, prev)
    try:
        yield
    finally:
        with _ppd_lock:
            depth, prev = _ppd_depth[sid]
            if depth == 1:
                del _ppd_depth[sid]
                if prev is None:
                    spark.conf.unset(_PPD_KEY)
                else:
                    spark.conf.set(_PPD_KEY, prev)
            else:
                _ppd_depth[sid] = (depth - 1, prev)

#: tiers whose whole retention fits in this many seconds partition hourly —
#: hot tiers get fine-grained partitions so a micro-batch upsert rewrites
#: ~an hour of data, not a whole day (the closest COW-parquet analog of the
#: reference's O(1) ring write, kenshin/storage.py:499-503)
HOT_RETENTION_CUTOFF = 2 * DAY

STORED_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("day", T.LongType(), False),
    ]
)

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("schema_name", T.StringType(), False),
        T.StructField("created_ts", T.LongType(), False),
    ]
)


def _unlogged_files(fs: HadoopFS, root: str, n_tiers: int):
    """``(path, size)`` of every plain ``part-*`` parquet file in the
    catalog and the tiers' ``day=`` partitions — what a listing-planned
    writer (or a bare ``df.write.parquet``) leaves behind. Files
    ``commit.adopt`` moved into the tree carry its ``<tag>-`` prefix
    instead, so a root whose first write crashed before committing
    never counts: its adopted files stay invisible until ``vacuum``
    reclaims them."""
    dirs = [os.path.join(root, "_catalog")]
    for i in range(n_tiers):
        tier = os.path.join(root, f"tier={i}")
        dirs += [
            os.path.join(tier, n)
            for n in fs.list_names(tier)
            if n.startswith("day=")
        ]
    for d in dirs:
        for fname, size in fs.list_files(d):
            if fname.startswith("part-") and fname.endswith(".parquet"):
                yield os.path.join(d, fname), size


#: the retired row-stamp allocator's sidecar and CAS claim markers; rows
#: it stamped can carry stamps above the manifest seq and outrank writes
_ALLOCATOR_ARTEFACTS = ("_seq.json", "_seq.d")


@dataclass(frozen=True)
class FetchPlan:
    """What one fetch reads (``ParquetTieredStore.fetch_plan``): tier
    ``tier`` at step ``step``, the slots ``range(lo, hi, step)``, and
    the tier's root-relative ``files`` of the window's partitions,
    live at manifest seq ``seq``."""

    tier: int
    step: int
    lo: int
    hi: int
    seq: int
    files: list[str]


class LegacyTreeError(RuntimeError):
    """The root holds data files written outside the manifest log, or
    rows stamped by the retired row-stamp allocator — run the
    ``migrate`` CLI verb (``ParquetTieredStore.migrate``) once."""


class ParquetTieredStore:
    """``mode="cow"`` (default): every upsert merges and rewrites the
    touched partitions — reads are cheapest, writes pay partition-sized
    amplification. ``mode="mor"`` (merge-on-read): upserts APPEND rows
    stamped with a sequence number and reads resolve last-write-wins per
    slot — writes cost O(batch) like the reference's ring write
    (kenshin/storage.py:499-503), reads pay a resolve aggregation until
    ``compact()`` folds the log back to one row per slot. Pick per tier
    usage: mor for high-frequency hot ingest, cow for read-heavy tiers.
    The stamp is the manifest seq that commits the write, so LWW follows
    commit order (as the reference's single writer's flush order does,
    kenshin/storage.py:468-480) and time travel uses the same numbers."""

    def __init__(
        self,
        spark: SparkSession,
        schema: Schema,
        root: str,
        mode: str = "cow",
    ):
        self._open(spark, schema, root, mode)
        if self._allocator_artefacts() or (
            self.commit.epoch() == 0
            and any(_unlogged_files(self.fs, root, len(schema.archives)))
        ):
            raise LegacyTreeError(
                f"{root} holds data files written outside the manifest "
                "log, or rows stamped by the retired _seq.json/_seq.d "
                "allocator; reading it would silently miss or misorder "
                "rows. Bring it under the log once with: python -m "
                f"kenshin_spark.cli --root {root} migrate"
            )

    def _open(
        self, spark: SparkSession, schema: Schema, root: str, mode: str
    ) -> None:
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown store mode {mode!r}")
        self.spark = spark
        self.schema = schema
        self.root = root
        self.mode = mode
        #: all non-Spark filesystem ops go through the Hadoop FS API so
        #: the store behaves identically on file:/hdfs:/object stores
        self.fs = HadoopFS(spark, root)
        #: the commit protocol (kenshin_spark.commit): readers plan from
        #: the committed file list, writers stage invisibly and publish
        #: one commit record per transaction
        self.commit = ManifestCommitProtocol(self.fs, root)

    def _allocator_artefacts(self) -> list[str]:
        paths = [os.path.join(self.root, n) for n in _ALLOCATOR_ARTEFACTS]
        return [p for p in paths if self.fs.exists(p)]

    @classmethod
    def migrate(
        cls,
        spark: SparkSession,
        schema: Schema,
        root: str,
        mode: str = "cow",
    ) -> "ParquetTieredStore":
        """Bring a root the constructor refuses under the manifest log,
        then open it; the CLI verb ``migrate`` runs this. A tree written
        outside the log has its plain ``part-*`` files enumerated into
        one ``op="migrate"`` commit (an interrupted ``.bak`` swap is
        restored first so its files count). A tree stamped by the
        retired allocator (``_seq.json``/``_seq.d``) can hold stamps
        above the manifest seq: every tier is folded with ``compact``
        (stamp 0), and only then are both artefacts removed, so a crash
        in between leaves them for a rerun. Refuses a logged root with
        neither: after retirements, a listing would resurrect files
        awaiting vacuum."""
        st = cls.__new__(cls)
        st._open(spark, schema, root, "mor")  # the fold must read _seq
        artefacts = st._allocator_artefacts()
        if st.commit.epoch() == 0:
            st.recover()
            with st.commit.txn(op="migrate") as tx:
                for path, size in _unlogged_files(
                    st.fs, root, len(schema.archives)
                ):
                    tx.add(st.commit.rel(path), size)
        elif not artefacts:
            raise RuntimeError(
                f"migrate: manifest already exists at {root} (epoch "
                f"{st.commit.epoch()}); a listing rebuild would resurrect "
                "retired files"
            )
        if artefacts:
            for i in range(len(schema.archives)):
                st.compact(i)
            for path in artefacts:
                st.fs.delete(path)
        return cls(spark, schema, root, mode=mode)

    # -- paths ------------------------------------------------------------

    def tier_path(self, i: int) -> str:
        return os.path.join(self.root, f"tier={i}")

    def part_unit(self, i: int) -> int:
        """Partition granularity of tier i in seconds: hourly while the
        tier's retention is short (hot data, frequent upserts), daily for
        the long coarse tiers. The ``day`` column stores ``ts // unit``."""
        return HOUR if self.schema.archives[i].retention <= HOT_RETENTION_CUTOFF else DAY

    # -- manifest plumbing -------------------------------------------------

    def _plan(
        self,
        path: str,
        version: int | None = None,
        days: list[int] | None = None,
    ) -> list[str]:
        """The committed live files under ``path``, root-relative.
        ``version`` pins a historical manifest seq (time travel);
        ``days`` keeps only those ``day=`` partitions."""
        files = self.commit.live_files(self.commit.rel(path), seq=version)
        if days is not None:
            keep = {f"day={d}" for d in days}
            files = [(r, sz) for r, sz in files if r.split("/")[1] in keep]
        return [rel for rel, _ in files]

    def _plan_abs(
        self,
        path: str,
        version: int | None = None,
        days: list[int] | None = None,
    ) -> list[str]:
        """``_plan`` as absolute paths."""
        return [
            os.path.join(self.root, rel)
            for rel in self._plan(path, version=version, days=days)
        ]

    def _check_version(self, version: int | None) -> None:
        """Validate a time-travel pin: the seq must be a committed one
        (0 = 'before anything' is not a readable snapshot; > epoch does
        not exist yet) whose files ``vacuum`` has not reclaimed — past
        that horizon a pinned read raises instead of answering from a
        partial file set (a trimmed log raises in ``commit.snapshot``)."""
        if version is None:
            return
        latest = self.commit.epoch()
        if not (1 <= version <= latest):
            raise ValueError(
                f"version {version} not in committed range [1, {latest}]"
            )
        live = self.commit.snapshot(latest)
        tombs = self.commit.tombstones(latest)
        # neither live nor tombstoned now: reclaimed, unless it predates
        # tombstones (then only the filesystem knows)
        gone = [
            rel for rel in self.commit.snapshot(version)
            if rel not in live and rel not in tombs
            and not self.fs.exists(os.path.join(self.root, rel))
        ]
        if gone:
            raise ValueError(
                f"version {version} is past the vacuum retention horizon "
                f"({gone[0]} was reclaimed)"
            )

    def restore(self, version: int) -> int:
        """Roll the live file set back to manifest seq ``version`` —
        Delta's RESTORE TABLE: ONE forward commit (op=``restore``) that
        drops every file added after the pinned seq and re-adds every
        file it referenced that was since retired (clearing their
        tombstones — the files still exist physically until vacuum, so
        a restore within the grace window is pure metadata). History is
        preserved: the rollback is itself a commit, so a restore can be
        restored away. Raises when a required file was already
        reclaimed (restore past the vacuum horizon cannot be done
        safely, ``_check_version``) — checked BEFORE committing, so a
        failed restore changes nothing."""
        self._check_version(version)
        target = dict(self.commit.live_files("", seq=version))
        current = dict(self.commit.live_files(""))
        with self.commit.txn(op="restore") as tx:
            for rel in current:
                if rel not in target:
                    tx.drop(rel)
            for rel, sz in target.items():
                if rel not in current:
                    tx.add(rel, sz)
        return self.commit.epoch()

    def vacuum(
        self,
        grace_s: float = ManifestCommitProtocol.GRACE_S,
        now: float | None = None,
    ) -> list[str]:
        """Physically reclaim the files no committed manifest references
        once ``grace_s`` past their retirement, plus stranded stage
        debris and superseded log records — ``commit.vacuum`` over the
        tiers and the catalog. Returns the paths removed."""
        return self.commit.vacuum(
            [self.tier_path(i) for i in range(len(self.schema.archives))]
            + [self.catalog_path],
            grace_s,
            now,
        )

    # -- read -------------------------------------------------------------

    def _resolve(self, df: DataFrame) -> DataFrame:
        """mor: collapse the append log to the winning row per slot."""
        if "_seq" not in df.columns:
            return df.select("metric", "ts", "value")
        return (
            df.groupBy("metric", "ts")
            .agg(F.max(F.struct("_seq", "value")).alias("_w"))
            .select("metric", "ts", F.col("_w.value").alias("value"))
        )

    @staticmethod
    def _resolve_arrow(table) -> dict[tuple[str, int], float | None]:
        """``_resolve`` on the driver, over a pyarrow table of stored
        rows: ``{(metric, ts): value}``. Sorting by ``(_seq, value)``
        with nulls first and keeping each slot's last row is
        ``max(struct(_seq, value))``: on a ``_seq`` tie a NULL value
        loses to a non-NULL one, and NaN outranks every number."""
        if "_seq" in table.column_names:
            table = table.sort_by(
                [("_seq", "ascending"), ("value", "ascending")],
                null_placement="at_start",
            )
        slots = zip(table["metric"].to_pylist(), table["ts"].to_pylist())
        return dict(zip(slots, table["value"].to_pylist()))

    def _tier_empty(self, path: str, version: int | None = None) -> bool:
        """True when the tier has no live data files — the committed
        file list is the truth (the directory may hold retired files
        awaiting vacuum)."""
        return not self.commit.live_files(self.commit.rel(path), seq=version)

    def _tier_schema(self) -> T.StructType:
        """The physical schema of every tier, known a priori from the
        store mode (mor tiers ALWAYS carry ``_seq`` — every write path
        stamps it; cow tiers never do). Handing it to the reader skips
        planning-time schema inference entirely: one less footer read
        per scan at 100 TB."""
        if self.mode == "mor":
            return T.StructType(
                list(STORED_SCHEMA) + [T.StructField("_seq", T.LongType(), True)]
            )
        return STORED_SCHEMA

    def _scan_tier(
        self,
        path: str,
        version: int | None = None,
        days: list[int] | None = None,
    ) -> DataFrame:
        return self._scan_files(
            path, self._plan_abs(path, version=version, days=days)
        )

    def _scan_files(self, path: str, files: list[str]) -> DataFrame:
        reader = self.spark.read.schema(self._tier_schema())
        # plan from the committed file list — partition values (day=) are
        # still derived from the paths via basePath; a retired file that
        # physically remains on disk (awaiting vacuum) is never scanned
        with _explicit_list_planning(self.spark):
            return reader.option("basePath", path).parquet(*files)

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], STORED_SCHEMA).select(
            "metric", "ts", "value"
        )

    def read(self, i: int, version: int | None = None) -> DataFrame:
        """Tier i as ``(metric, ts, value)``; empty frame if never
        written. ``version`` pins a historical manifest seq (Delta's
        ``versionAsOf``): the scan plans from the file list as
        committed at that seq, so it sees the tier exactly as it stood
        THEN — including through later compactions and expiries. A
        long pipeline job pins ``commit.epoch()`` once and every read it
        does is consistent while ingest keeps committing. The travel
        window is the vacuum retention: a pin whose files ``vacuum``
        reclaimed or whose log it trimmed raises at planning
        (``_check_version``) — the same contract as Delta's VACUUM."""
        self._check_version(version)
        return self._read(i, version)

    def _read(
        self, i: int, version: int | None, days: list[int] | None = None
    ) -> DataFrame:
        """Tier i at ``version``, planned from the files of ``days``
        (default: every day)."""
        path = self.tier_path(i)
        if not self._plan_abs(path, version=version, days=days):
            return self._empty()
        return self._resolve(self._scan_tier(path, version=version, days=days))

    def history(self, limit: int | None = None) -> list[dict]:
        """The retained commit log, newest first — seq, unix ts, op
        label, and adds/drops counts per commit. History ends where
        vacuum trimmed the log, exactly like time travel."""
        return self.commit.history(limit=limit)

    def _days_added(self, i: int, seq_a: int, seq_b: int) -> list[int]:
        """Day partitions of tier i holding a file live at ``seq_b`` but
        not at ``seq_a`` — the only partitions whose resolved rows can
        differ between the two snapshots: every append, merge, fold and
        rewrite adds files to the days it touches, and a slot's rows all
        share its day. Read off the manifest: no Spark job."""
        before = {r for r, _ in self.commit.live_files(f"tier={i}", seq=seq_a)}
        return sorted({
            int(rel.split("/")[1][len("day="):])
            for rel, _ in self.commit.live_files(f"tier={i}", seq=seq_b)
            if rel not in before
        })

    def changed_between(
        self, i: int, seq_a: int, seq_b: int
    ) -> DataFrame:
        """CDC between two manifest seqs: slots whose RESOLVED value
        differs between snapshot ``seq_a`` and the later ``seq_b`` — new
        metrics, overwritten slots, NULL-overwrites included (the store
        has no deletes below metric granularity). Implemented as
        ``read(version=b) EXCEPT ALL read(version=a)``, so the diff is
        over resolved states, not raw appends; feed downstream
        incremental jobs instead of re-reading the tier. Works on cow
        and mor stores and across compactions; ``seq_a = 0`` diffs
        against the empty store; a seq past the vacuum horizon raises
        (``_check_version``). Both sides read only the files of
        ``_days_added`` (VERDICT r8 "What's missing" #4): two resolves
        of the days written between the seqs, found without a job."""
        if seq_a:
            self._check_version(seq_a)
        self._check_version(seq_b)
        days = self._days_added(i, seq_a, seq_b)
        if not days:
            return self._empty()
        return self._read(i, seq_b, days).exceptAll(self._read(i, seq_a, days))

    def read_range(
        self, i: int, from_ts: int, until_ts: int,
        version: int | None = None,
    ) -> DataFrame:
        """Tier i restricted to ``[from_ts, until_ts)`` — the ts filter is
        mirrored onto the ``day`` partition column so the scan prunes
        whole partitions (a ts-only filter cannot: Catalyst doesn't know
        day = ts // 86400). This is the read path every time-bounded
        query must take at 100 TB. ``version`` pins a historical
        manifest seq (see :meth:`read`)."""
        self._check_version(version)
        path = self.tier_path(i)
        if self._tier_empty(path, version=version):
            return self._empty()
        unit = self.part_unit(i)
        return self._resolve(
            self._scan_tier(path, version=version).where(
                (F.col("day") >= from_ts // unit)
                & (F.col("day") <= (until_ts - 1) // unit)
                & (F.col("ts") >= from_ts)
                & (F.col("ts") < until_ts)
            )
        )

    def tiers(self) -> list[DataFrame]:
        return [self.read(i) for i in range(len(self.schema.archives))]

    # -- write ------------------------------------------------------------

    def _with_day(self, df: DataFrame, i: int) -> DataFrame:
        unit = self.part_unit(i)
        return df.select(
            F.col("metric").cast("string"),
            F.col("ts").cast("long"),
            F.col("value").cast("double"),
            (F.col("ts").cast("long") / unit).cast("long").alias("day"),
        )

    def _commit_stamped(
        self, i: int, out: DataFrame, op: str, replace: bool = False
    ) -> None:
        """mor write: stamp ``out`` with the manifest seq its commit will
        get and commit at exactly that seq. If a concurrent commit took
        it first, ``commit_txn`` raises ``ManifestConflict`` and the write
        re-stamps (``commit_txn``'s 64-attempt bound); a lost attempt's
        files stay invisible until ``vacuum``. Sorts within tasks like
        every write path (see ``upsert``)."""
        for _attempt in range(64):
            seq = self.commit.epoch() + 1
            stamped = out.withColumn("_seq", F.lit(seq))
            adds = self.commit.adopt(
                stamped.sortWithinPartitions("day", "metric", "ts"),
                self.tier_path(i),
            )
            try:
                with self.commit.txn(op=op) as tx:
                    tx.seq = seq
                    if replace:
                        tx.drop(f"tier={i}")
                    for rel, size in adds:
                        tx.add(rel, size)
                return
            except ManifestConflict:
                continue
        raise RuntimeError(
            f"mor {op} of tier {i} under {self.root}: lost 64 "
            "consecutive commit races"
        )

    def overwrite(self, i: int, slots: DataFrame) -> None:
        """Full rewrite of a tier (initial load / schema-change rebuild)."""
        out = self._with_day(slots, i)
        if self.mode == "mor":
            self._commit_stamped(i, out, "overwrite", replace=True)
            return
        # stage + adopt invisibly, then one atomic pointer flip that
        # retires the whole old tier — readers mid-scan keep their
        # snapshot's files (vacuum reclaims them after the grace)
        adds = self.commit.adopt(out, self.tier_path(i))
        with self.commit.txn(op="overwrite") as tx:
            tx.replace(f"tier={i}", adds)

    def upsert(
        self, i: int, slots: DataFrame, days: list[int] | None = None
    ) -> None:
        """Merge aligned slots into tier i, new values winning per
        (metric, ts) — NULLs included, matching the ring overwrite
        (kenshin/storage.py:468-480). Reads and rewrites ONLY the day
        partitions the batch touches.

        ``days``: the batch's exact touched-day set when the caller
        already knows it (StreamingIngest folds it into its combined
        bookkeeping pass) — skips the distinct-days probe job the cow
        merge path otherwise runs. Must equal what the probe would
        return; ignored on paths that never probe (mor append,
        first write). A supplied set that misses a day the batch
        touches raises before anything commits — the merge would
        otherwise leave that day's old rows beside the new ones."""
        path = self.tier_path(i)
        new = self._with_day(slots, i)
        # every write path sorts within tasks by (metric, ts) — a free
        # in-task sort (no shuffle) that keeps parquet row-group min/max
        # stats tight, so metric-predicate scans skip row groups even
        # BETWEEN compactions (compact() re-sorts anyway)
        if self.mode == "mor":
            # O(batch) append; the read path resolves last-write-wins
            self._commit_stamped(i, new, "upsert")
            return
        if self._tier_empty(path):
            adds = self.commit.adopt(
                new.sortWithinPartitions("day", "metric", "ts"), path
            )
            with self.commit.txn(op="upsert") as tx:
                tx.replace(f"tier={i}", adds)
            return
        if days is None:
            days = [r["day"] for r in new.select("day").distinct().collect()]
        else:
            days = [int(d) for d in days]
        # the merge below is planned from THIS snapshot — pin it so a
        # concurrent writer's commit into a touched day conflicts
        # loudly instead of being silently replaced un-merged
        read_seq = self.commit.epoch()
        existing = (
            self._scan_tier(path)
            .where(F.col("day").isin(days))
            .select("metric", "ts", "value", "day")
        )
        # last-write-wins: the new batch outranks stored rows; max(struct)
        # is NULL-safe in the payload position
        merged = (
            existing.withColumn("_seq", F.lit(0))
            .unionByName(new.withColumn("_seq", F.lit(1)))
            .groupBy("metric", "ts", "day")
            .agg(F.max(F.struct("_seq", "value")).alias("_w"))
            .select("metric", "ts", F.col("_w.value").alias("value"), "day")
        )
        # adopt the merged frame's files, then one transaction retires
        # the touched days' old files and commits the rewrites; readers
        # never see a half-merged partition and nothing is deleted
        # in-commit
        adds = self.commit.adopt(
            merged.sortWithinPartitions("day", "metric", "ts"), path
        )
        # the drops below retire ONLY the supplied days: a rewrite file
        # under any other day would land beside that day's old rows.
        # The adopt result names every day written — no extra job
        stray = sorted(
            {rel.split("/")[1] for rel, _ in adds}
            - {f"day={d}" for d in days}
        )
        if stray:
            raise ValueError(
                f"upsert(tier={i}, days={days}): the batch also touches "
                f"{stray}; refusing to commit a merge that would keep "
                "those partitions' old rows beside the new ones"
            )
        with self.commit.txn(read_seq=read_seq, op="upsert") as tx:
            for d in days:
                tx.drop(f"tier={i}/day={d}")
            for rel, size in adds:
                tx.add(rel, size)

    # -- retention (O4) ---------------------------------------------------

    def _live_days(self, i: int) -> list[int]:
        """Day partition values of tier i per the committed manifest."""
        days = set()
        for rel, _ in self.commit.live_files(f"tier={i}"):
            part = rel.split("/")[1]
            if part.startswith("day="):
                days.add(int(part[4:]))
        return sorted(days)

    def expire(self, now: int) -> dict[int, list[int]]:
        """Drop day partitions wholly outside each tier's retention.
        Returns {tier: [dropped days]} (the partition-drop DDL at scale).
        Expiry is LOGICAL — one transaction retires every doomed
        partition across all tiers atomically, and ``vacuum`` reclaims
        the bytes after the grace window (so scans planned before the
        expiry keep reading their snapshot)."""
        dropped: dict[int, list[int]] = {}
        with self.commit.txn(op="expire") as tx:
            for i, arch in enumerate(self.schema.archives):
                cutoff_day = (now - arch.retention) // self.part_unit(i)
                gone = [d for d in self._live_days(i) if d < cutoff_day]
                for d in gone:
                    tx.drop(f"tier={i}/day={d}")
                if gone:
                    dropped[i] = gone
        return dropped

    # -- propagation (W7) -------------------------------------------------

    def propagate(
        self,
        batch_slots: DataFrame,
        from_tier: int = 0,
        bounds: "tuple[int | None, int | None] | None" = None,
    ) -> None:
        """Cascade an upsert into tier ``from_tier`` through the coarser
        tiers: for each tier i>from_tier re-aggregate every coarse slot
        the batch touches from tier i-1 — the write-time downsample of
        kenshin/storage.py:510-586. No xff timeunit gates it: the
        reference defers the still-open timeunit to a later update
        (kenshin/storage.py:505-528), this store re-aggregates it in the
        same batch (PARITY W8). The finer-tier scan is bounded to the
        touched coarse-slot range.

        ``bounds``: the batch's (min ts, max ts) when the caller already
        knows them (StreamingIngest folds them into the upsert's write
        action via ``observe``) — skips the bounds job here. ``(None,
        None)`` means a provably empty batch (no-op), ``None`` means
        unknown (compute them).

        Shape (r12, guide §1.3/§2.4): every tier's touched coarse-slot
        set is derived by aligning the ORIGINAL batch slots — coarser
        steps are validated integer multiples of finer ones
        (config.py: "each coarser step is an integer multiple of the
        next finer step"), so ``align(align(ts, s_fine), s_coarse) ==
        align(ts, s_coarse)`` and the set is identical to the former
        chain off the previous tier's re-aggregate. That makes each
        re-aggregate single-consumer (its own upsert write), so the
        per-tier persist + count job are gone: the mor append is
        written straight from the plan and AQE's partition coalescing
        shapes the output files by SIZE (scale-adaptive) instead of an
        explicit coalesce sized by a dedicated count job. Cow tiers pin
        the re-aggregate around their read-merge-rewrite (two
        consumers: the touched-days probe and the merge)."""
        agg = AGG_SQL[self.schema.agg_method]
        touched = batch_slots.select(
            "metric", F.col("ts").cast("long")
        )
        # the batch projection is consumed once per coarser tier (each
        # tier's slot set aligns it down) plus once for the bounds job —
        # pin it when there is more than one consumer so the upstream
        # plan (e.g. a CDC exceptAll diff, or a foreachBatch frame that
        # re-executes its stateful source per action) runs once. pin,
        # NOT persist: the per-tier broadcast builds of the slot sets
        # were measured missing the SQL cache (each tier's write
        # re-evaluated the full upstream plan — 4 extra evaluations of
        # the CDC diff per propagate_from_seq), while checkpoint blocks
        # are reused unconditionally.
        n_consumers = (len(self.schema.archives) - from_tier - 1) + (
            1 if bounds is None else 0
        )
        if n_consumers > 1:
            from kenshin_spark.session import pin

            touched = pin(touched, eager=False)
        try:
            if bounds is None:
                row = touched.agg(
                    F.min("ts").alias("lo"), F.max("ts").alias("hi")
                ).collect()[0]
                bounds = (row["lo"], row["hi"])
            if bounds[0] is None:
                return
            lo, hi = int(bounds[0]), int(bounds[1])
            for i in range(from_tier + 1, len(self.schema.archives)):
                step = self.schema.archives[i].sec_per_point
                slots = touched.select(
                    "metric", align_ts(F.col("ts"), step).alias("slot")
                ).distinct()
                # bound the finer-tier scan to the touched coarse-slot
                # range — partition pruning keeps propagation cost
                # ∝ batch, not table
                finer = self.read_range(
                    i - 1, lo - lo % step, hi - hi % step + step
                )
                window = finer.join(
                    F.broadcast(slots),
                    (finer["metric"] == slots["metric"])
                    & (align_ts(finer["ts"], step) == slots["slot"]),
                ).select(finer["metric"], finer["ts"], finer["value"])
                re_agg = window.groupBy(
                    "metric", align_ts(F.col("ts"), step).alias("ts")
                ).agg(
                    F.expr(agg.format(v="value", t="ts")).alias("value")
                )
                if self.mode == "cow" and not self._tier_empty(
                    self.tier_path(i)
                ):
                    # cow's merge probes the touched days, then unions
                    # against them — two consumers; pin so the
                    # re-aggregate evaluates once
                    re_agg = re_agg.persist()
                    try:
                        self.upsert(i, re_agg)
                    finally:
                        re_agg.unpersist()
                else:
                    # mor append (or first cow write): single consumer —
                    # written straight from the plan; AQE coalesces the
                    # output partitions by size (guide §2.2/§6)
                    self.upsert(i, re_agg)
        finally:
            # no-op unless a (replicated-persist) pin mode left the frame
            # cached; localCheckpoint blocks are reclaimed by the
            # ContextCleaner once the RDD is unreachable (session.py pins
            # the periodic-GC cadence at 45 s)
            touched.unpersist()

    def backup_to(self, dest_root: str) -> list[str]:
        """Copy every tier, the catalog, and the manifest log to
        ``dest_root`` (same filesystem semantics as the store root —
        local, file:, hdfs:, s3a). A plain recursive copy is a CRASH-
        CONSISTENT backup here because tier data is immutable-once-
        written parquet and only the log says which files are live; to
        get back a point in time under concurrent writes, pin
        ``commit.epoch()`` first and ``restore`` the copy to it.
        Returns the paths copied."""
        copied = []
        for i in range(len(self.schema.archives)):
            p = self.tier_path(i)
            if self.fs.exists(p):
                self.fs.copy_tree(p, os.path.join(dest_root, f"tier={i}"))
                copied.append(p)
        if self.fs.exists(self.catalog_path):
            self.fs.copy_tree(
                self.catalog_path, os.path.join(dest_root, "_catalog")
            )
            copied.append(self.catalog_path)
        manifest_dir = os.path.join(self.root, "_manifest")
        if self.fs.exists(manifest_dir):
            # the manifest keys are root-relative, so the copied log is
            # valid at the new root as-is (retired files come along in
            # the tier copies — harmless; vacuum reclaims them there too)
            self.fs.copy_tree(
                manifest_dir, os.path.join(dest_root, "_manifest")
            )
            copied.append(manifest_dir)
        return copied

    def propagate_from_seq(self, since_seq: int, from_tier: int = 0) -> int:
        """Catch-up propagation: re-downsample ONLY the slots tier
        ``from_tier`` changed since manifest seq ``since_seq`` — the
        recovery path when writes bypassed the per-batch cascade
        (imports, restored ``.bak`` tiers, manual upserts, a crashed
        ingest that flushed tier0 but died before cascading). Cost is
        ∝ changed slots, not tier size: ``changed_between`` diffs the
        changed days only and ``propagate`` re-aggregates only the
        touched coarse windows. Returns the seq to pass as
        ``since_seq`` next time (checkpoint it).

        The cascade's scan bounds are the changed days' extents × the
        partition unit instead of a dedicated min/max job over the
        resolved diff — bounds only prune the finer-tier scans (the
        slot join filters exactly), so day-granular bounds change
        nothing but the job count."""
        upto = self.commit.epoch()
        if since_seq == upto:
            return upto
        changed = self.changed_between(from_tier, since_seq, upto)
        days = self._days_added(from_tier, since_seq, upto)
        if not days:
            return upto
        unit = self.part_unit(from_tier)
        self.propagate(
            changed.select("metric", "ts"),
            from_tier,
            bounds=(min(days) * unit, (max(days) + 1) * unit - 1),
        )
        return upto

    # -- fetch (R1-R3) ----------------------------------------------------

    def fetch_plan(
        self, from_time: int, until_time: int, now: int,
        version: int | None = None,
    ) -> FetchPlan | None:
        """The read plan of one fetch (R1-R2): clamp the window, select
        the tier, round the bounds up to its step, and list the tier's
        committed files of the window's partitions at one manifest seq
        (``version``, default the latest). None when the window is
        entirely outside retention; an inverted window raises. No file
        is opened."""
        from kenshin_spark.operators.fetch import (
            clamp_range,
            roundup,
            select_archive,
        )

        archives = list(self.schema.archives)
        clamped = clamp_range(
            from_time, until_time, now, archives[-1].retention
        )
        if clamped is None:
            return None
        self._check_version(version)
        idx = select_archive(archives, clamped[0], now)
        step = archives[idx].sec_per_point
        lo, hi = (roundup(t, step) for t in clamped)
        unit = self.part_unit(idx)
        days = list(range(lo // unit, (hi - 1) // unit + 1)) if hi > lo else []
        seq = self.commit.epoch() if version is None else version
        files = self._plan(self.tier_path(idx), version=seq, days=days)
        return FetchPlan(idx, step, lo, hi, seq, files)

    def fetch(
        self, metrics, from_time: int, until_time: int, now: int,
        version: int | None = None,
    ) -> DataFrame | None:
        """Tier-selected, clamped, grid-filled read (R1-R3): the scan
        reads only the files ``fetch_plan`` lists for the window.
        ``version`` pins a historical manifest seq (see :meth:`read`):
        the same render query replayed against yesterday's committed
        snapshot."""
        from kenshin_spark.operators.fetch import grid_fill

        plan = self.fetch_plan(from_time, until_time, now, version=version)
        if plan is None:
            return None
        pts = self._empty()
        if plan.files:
            pts = self._resolve(self._scan_files(
                self.tier_path(plan.tier),
                [os.path.join(self.root, rel) for rel in plan.files],
            ))
        return grid_fill(pts, metrics, plan.lo, plan.hi, plan.step)

    def fetch_glob(
        self, target: str, from_time: int, until_time: int, now: int
    ) -> DataFrame | None:
        """Graphite render-target entry point: resolve a glob target
        (``sys.cpu.*``, ``app.{web,api}.latency``) against the metric
        namespace — the catalog when present (tiny dim scan), else the
        tier-0 metric column — then fetch the matching series. The
        resolved set stays a DataFrame end-to-end (no driver collect);
        grid-fill crosses it with the slot sequence."""
        from kenshin_spark.operators.maintenance import glob_to_regex

        pat = glob_to_regex(target)
        src = self.catalog() if self._has_catalog() else self.read(0)
        metrics = (
            src.select("metric").where(F.col("metric").rlike(pat)).distinct()
        )
        return self.fetch(metrics, from_time, until_time, now)

    # -- compaction -------------------------------------------------------

    def file_report(self, i: int) -> list[dict]:
        """Small-file audit for tier i: one row per day partition with
        ``{"day", "n_files", "bytes", "min_file_bytes"}``, sorted by
        day. This is the IO-shape health check the reference never
        needs (its preallocated .hs files can't fragment,
        README.md:63-71) but a COW/MOR parquet store must watch:
        every micro-batch upsert adds ~one file per touched (day ×
        shuffle task), and scan cost degrades with file COUNT long
        before it degrades with bytes (per-file open + footer read ≈
        ``openCostInBytes`` each). The manifest already knows every
        live file and size, so the audit is a dict walk — no listing,
        and retired files awaiting vacuum never pollute the shape."""
        by_day: dict[int, list[int]] = {}
        for rel, size in self.commit.live_files(f"tier={i}"):
            part = rel.split("/")[1]
            if part.startswith("day="):
                by_day.setdefault(int(part[4:]), []).append(size)
        return [
            {
                "day": d,
                "n_files": len(sizes),
                "bytes": sum(sizes),
                "min_file_bytes": min(sizes),
            }
            for d, sizes in sorted(by_day.items())
        ]

    @staticmethod
    def day_degraded(
        r: dict,
        max_files_per_day: int = 8,
        min_file_bytes: int = 8 << 20,
    ) -> bool:
        """The audit predicate over one ``file_report`` row: more than
        ``max_files_per_day`` files, or any file smaller than
        ``min_file_bytes`` while the partition has more than one (a
        lone small file is just a small day)."""
        return r["n_files"] > max_files_per_day or (
            r["n_files"] > 1 and r["min_file_bytes"] < min_file_bytes
        )

    def needs_compaction(
        self,
        i: int,
        max_files_per_day: int = 8,
        min_file_bytes: int = 8 << 20,
        report: list[dict] | None = None,
    ) -> list[int]:
        """Days of tier i whose file shape has degraded
        (``day_degraded``). Feed the result to ``compact(i, days=...)``
        — the maintenance loop's predicate. Pass a precomputed
        ``report`` to avoid re-listing the tier."""
        if report is None:
            report = self.file_report(i)
        return [
            r["day"]
            for r in report
            if self.day_degraded(r, max_files_per_day, min_file_bytes)
        ]

    def compact(
        self,
        i: int,
        target_files_per_day: int = 1,
        days: list[int] | None = None,
    ) -> list[int] | None:
        """Rewrite tier i's day partitions into ``target_files_per_day``
        files each. Repeated micro-batch upserts leave one file per
        (day × shuffle task × batch); compaction restores the
        one-sequential-file-per-period shape the reference gets for free
        from its preallocated format (README.md:63-66). Run it like the
        reference's maintenance scripts — off the hot path.

        ``days`` bounds the rewrite to those day partitions — the
        production shape: under steady streaming ingest only the last
        hour/day fragments (``needs_compaction`` finds them), and
        compacting a 90-day tier to fix one hot day would rewrite 90×
        the necessary bytes. ``days=None`` keeps the full-tier rewrite
        (initial cleanup / schema maintenance).

        Every rewrite is staged + adopted invisibly, then ONE
        transaction retires the old files and commits the new; readers
        mid-scan keep their snapshot (old files persist until
        ``vacuum``). ONE fold job covers every requested day: the
        day-partitioned rewrite gives each day its own task(s) (plus a
        metric hash for target>1), so the per-day output shape is exact.

        Returns the days actually compacted when ``days`` is given
        (requested days absent from this tier are skipped, not
        reported), else None for the full rewrite."""
        path = self.tier_path(i)
        if self._tier_empty(path):
            return [] if days is not None else None
        # the fold below is planned from THIS snapshot: pin it so a
        # concurrent writer's append to a folded partition raises
        # ManifestConflict instead of being silently retired un-folded
        read_seq = self.commit.epoch()
        raw = self._scan_tier(path)
        if days is None:
            retired = [f"tier={i}"]
        else:
            live = set(self._live_days(i))
            days = sorted(d for d in days if d in live)
            if not days:
                return []
            raw = raw.where(F.col("day").isin(days))
            retired = [f"tier={i}/day={d}" for d in days]
        df = self._fold_log(raw)
        if target_files_per_day == 1:
            shaped = df.repartition("day")  # each day → exactly one task
        else:
            shaped = df.repartition(
                "day",
                F.pmod(F.xxhash64("metric"), F.lit(target_files_per_day)),
            )
        # day first: the partitioned writer's required ordering is a day
        # prefix — satisfying it keeps the writer from inserting its own
        # (unstable) re-sort that would undo (metric, ts)
        adds = self.commit.adopt(
            shaped.sortWithinPartitions("day", "metric", "ts"), path
        )
        with self.commit.txn(read_seq=read_seq, op="compact") as tx:
            for prefix in retired:
                tx.drop(prefix)
            for rel, size in adds:
                tx.add(rel, size)
        return days

    def _fold_log(self, raw: DataFrame) -> DataFrame:
        """Collapse a mor append log to one row per slot (stamp 0); pass
        cow frames through."""
        if "_seq" not in raw.columns:
            return raw.select("metric", "ts", "value", "day")
        return (
            raw.groupBy("metric", "ts", "day")
            .agg(F.max(F.struct("_seq", "value")).alias("_w"))
            .select(
                "metric", "ts", F.col("_w.value").alias("value"), "day",
                F.lit(0).alias("_seq"),
            )
        )

    # -- delete (M5) ------------------------------------------------------

    def delete_metrics(self, metrics: list[str]) -> None:
        """M5 — delete metrics' rows from every tier
        (bin/kenshin-delete.py:39-96 blanks header slots; with real tables
        we actually remove the rows). Plain-Parquet implementation rewrites
        each tier without the deleted metrics in ONE transaction across
        every tier AND the catalog, so the delete is all-or-nothing; on
        Delta/Iceberg this is a metadata-level
        ``DELETE WHERE metric IN (...)``."""
        with self.commit.txn(op="delete") as tx:
            for i in range(len(self.schema.archives)):
                path = self.tier_path(i)
                if self._tier_empty(path):
                    continue
                kept = self._scan_tier(path).where(
                    ~F.col("metric").isin(metrics)
                )
                tx.replace(f"tier={i}", self.commit.adopt(kept, path))
            if self._has_catalog():
                kept_cat = self.catalog().where(
                    ~F.col("metric").isin(metrics)
                )
                tx.replace(
                    "_catalog",
                    self.commit.adopt(
                        kept_cat, self.catalog_path, partitioned=False
                    ),
                )

    def recover(self) -> list[str]:
        """Crash recovery for an interrupted whole-directory ``.bak``
        swap of a tier or the catalog: restore any
        ``.bak`` whose live directory is missing (reference analog: the
        change-schema .bak dance, bin/kenshin-change-schema.py:103-112).
        The manifest keys are root-relative, so the restored files are
        the committed ones again. Returns restored paths. Call on store
        open after an unclean shutdown."""
        restored = []
        for p in [
            self.tier_path(i) for i in range(len(self.schema.archives))
        ] + [self.catalog_path]:
            if self.fs.recover_swap(p):
                restored.append(p)
        return restored

    # -- catalog (M1, the index) ------------------------------------------

    @property
    def catalog_path(self) -> str:
        return os.path.join(self.root, "_catalog")

    def _has_catalog(self) -> bool:
        return bool(self.commit.live_files("_catalog"))

    def catalog(self) -> DataFrame:
        files = self._plan_abs(self.catalog_path)
        if not files:
            return self.spark.createDataFrame([], CATALOG_SCHEMA)
        # explicit schema: no planning-time footer read (see _tier_schema)
        with _explicit_list_planning(self.spark):
            return self.spark.read.schema(CATALOG_SCHEMA).parquet(*files)

    def catalog_add(self, rows: DataFrame) -> None:
        shaped = rows.select(
            F.col("metric").cast("string"),
            F.col("schema_name").cast("string"),
            F.col("created_ts").cast("long"),
        )
        adds = self.commit.adopt(shaped, self.catalog_path, partitioned=False)
        with self.commit.txn(op="catalog") as tx:
            for rel, size in adds:
                tx.add(rel, size)


class ArrowReader:
    """The serving executor over a store: cache queries, fetches and
    render globs answered by reading the manifest-planned files with
    pyarrow on the driver — no Spark job. Each call plans at one
    manifest seq, so a concurrent compaction or expiry commit never
    tears an answer (retired files stay on disk until ``vacuum``).
    Rows are resolved as ``_resolve`` does and grid-filled as
    ``grid_fill`` does. The filesystem is resolved once, here: a root
    pyarrow cannot open raises at construction, never per request."""

    def __init__(self, store: ParquetTieredStore):
        from pyarrow import fs as pafs
        from pyspark.sql.pandas.types import to_arrow_schema

        self.store = store
        self._fs, self._base = pafs.FileSystem.from_uri(store.root)
        self._tier_schema = to_arrow_schema(T.StructType(
            [f for f in store._tier_schema() if f.name != "day"]
        ))
        self._metric_schema = to_arrow_schema(
            T.StructType([CATALOG_SCHEMA["metric"]])
        )

    def _table(self, rels: list[str], schema, flt=None):
        import pyarrow.dataset as ds

        paths = [f"{self._base.rstrip('/')}/{rel}" for rel in rels]
        return ds.dataset(
            paths, schema=schema, format="parquet", filesystem=self._fs
        ).to_table(filter=flt)

    def _points(self, rels: list[str], flt) -> dict:
        return self.store._resolve_arrow(
            self._table(rels, self._tier_schema, flt)
        )

    def lookup(self, metric: str) -> list[tuple[int, float | None]]:
        """Tier 0's resolved ``(ts, value)`` points of ``metric`` in ts
        order — ``read(0).where(metric = …)``."""
        import pyarrow.compute as pc

        st = self.store
        pts = self._points(
            st._plan(st.tier_path(0)), pc.field("metric") == metric
        )
        return sorted(((ts, v) for (_, ts), v in pts.items()),
                      key=lambda p: p[0])

    def grid(self, plan: FetchPlan, metrics: list[str]) -> list[tuple]:
        """``grid_fill`` of ``plan``: one ``(metric, ts, value)`` row
        per requested metric (duplicates repeat) per slot, NULL where
        no point is stored; no row for a zero-width window."""
        import pyarrow as pa
        import pyarrow.compute as pc

        pts = self._points(
            plan.files,
            pc.field("metric").isin(pa.array(metrics, pa.string()))
            & (pc.field("ts") >= plan.lo)
            & (pc.field("ts") < plan.hi),
        )
        return [
            (m, ts, pts.get((m, ts)))
            for m in metrics for ts in range(plan.lo, plan.hi, plan.step)
        ]

    def fetch(
        self, metrics: list[str], from_time: int, until_time: int, now: int
    ) -> list[tuple] | None:
        """``store.fetch(...).collect()``: None outside retention."""
        plan = self.store.fetch_plan(from_time, until_time, now)
        return None if plan is None else self.grid(plan, metrics)

    def glob(self, target: str, seq: int) -> list[str]:
        """The metrics matching a graphite glob at manifest seq ``seq``,
        sorted: the catalog's metric column when the catalog has files,
        else tier 0's — the namespace ``fetch_glob`` resolves."""
        import re

        from kenshin_spark.operators.maintenance import glob_to_regex

        st = self.store
        rels = st._plan(st.catalog_path, version=seq) or st._plan(
            st.tier_path(0), version=seq
        )
        names = self._table(rels, self._metric_schema)["metric"].unique()
        pat = re.compile(glob_to_regex(target))
        return sorted(m for m in names.to_pylist() if pat.search(m))
