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
- **Write** (the ring overwrite plus propagation, kenshin/storage.py:
  468-492): a batch's slots and the re-aggregate of every coarser slot
  they touch are APPENDED in ONE staged write partitioned by ``(tier,
  day)`` and published in ONE manifest commit, every row stamped
  ``_seq`` = that commit's manifest seq. Nothing stored is read or
  rewritten but the finer rows a coarse slot re-aggregates — the write
  costs O(batch), the analog of the reference's O(1) ring-offset write
  (kenshin/storage.py:499-503). Reads resolve each slot to its
  highest-stamped row (merge-on-read); ``compact`` folds a partition's
  log back to one row per slot.
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

#: the rank a write's new rows take when they overlay a tier's stored
#: rows (every stored ``_seq`` is a manifest seq, far below it)
_STAGED_RANK = 1 << 62

#: tiers whose whole retention fits in this many seconds partition hourly —
#: hot tiers get fine-grained partitions so a compaction folds (and a
#: read resolves) ~an hour of appends, not a whole day
HOT_RETENTION_CUTOFF = 2 * DAY

#: the physical schema of every tier, known a priori: every write stores
#: ``_seq`` (a file without it reads NULL). Handing it to the reader skips
#: planning-time schema inference entirely: one less footer read per scan
#: at 100 TB
STORED_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("day", T.LongType(), False),
        T.StructField("_seq", T.LongType(), True),
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


def _union(frames: list[DataFrame]) -> DataFrame | None:
    """``unionByName`` of ``frames``; None for none."""
    out = None
    for df in frames:
        out = df if out is None else out.unionByName(df)
    return out


class LegacyTreeError(RuntimeError):
    """The root holds data files written outside the manifest log, or
    rows stamped by the retired row-stamp allocator — run the
    ``migrate`` CLI verb (``ParquetTieredStore.migrate``) once."""


class ParquetTieredStore:
    """A merge-on-read tiered store: every write APPENDS rows stamped
    with a sequence number and reads resolve last-write-wins per slot —
    writes cost O(batch) like the reference's ring write
    (kenshin/storage.py:499-503), reads pay a resolve aggregation until
    ``compact()`` folds the log back to one row per slot. The stamp is
    the manifest seq that commits the write, so LWW follows commit order
    (as the reference's single writer's flush order does,
    kenshin/storage.py:468-480) and time travel uses the same numbers.
    A row without a stamp (a file of the retired copy-on-write layout)
    reads ``_seq`` NULL and ranks below every stamped row."""

    def __init__(self, spark: SparkSession, schema: Schema, root: str):
        self._open(spark, schema, root)
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

    def _open(self, spark: SparkSession, schema: Schema, root: str) -> None:
        self.spark = spark
        self.schema = schema
        self.root = root
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
        cls, spark: SparkSession, schema: Schema, root: str
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
        st._open(spark, schema, root)
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
            st.compact({i: None for i in range(len(schema.archives))})
            for path in artefacts:
                st.fs.delete(path)
        return cls(spark, schema, root)

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
        """Collapse the append log to the winning row per slot."""
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
        reader = self.spark.read.schema(STORED_SCHEMA)
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
        incremental jobs instead of re-reading the tier. Works across
        compactions; ``seq_a = 0`` diffs
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

    def _stage_commit(
        self,
        plan,
        op: str,
        tiers: list[int],
        drops: list[str] = (),
        stamped: bool = True,
    ) -> None:
        """Stage one write and commit it once. ``plan(read_seq)`` builds
        every row the commit adds — ``metric, ts, value, day, tier``
        (plus ``_seq`` for an unstamped fold) — from the snapshot at
        ``read_seq``; one ``adopt`` writes them partitioned by ``(tier,
        day)`` (by ``day`` under the tier's directory when ``tiers``
        holds one), sorted within tasks by ``(metric, ts)`` so parquet
        row-group stats stay tight between compactions. The partition
        prefix is the partitioned writer's own required ordering, so it
        adds no (unstable) re-sort of its own; a one-tier write drops its
        constant ``tier`` column first, because the optimizer removes a
        constant from the sort and the writer would then re-sort.
        ``drops`` names the prefixes the commit retires.

        ``stamped`` (every write but a compaction): every row carries
        ``_seq`` = the manifest seq its commit takes. If a concurrent
        commit took it first, ``commit_txn`` raises ``ManifestConflict``
        and the write re-plans and re-stamps (64 attempts,
        ``commit_txn``'s bound); a lost attempt's files stay invisible
        until ``vacuum``. An unstamped write commits once against
        ``read_seq``: a concurrent add under a dropped prefix raises
        ``ManifestConflict`` to the caller."""
        for _attempt in range(64):
            read_seq = self.commit.epoch()
            out = plan(read_seq)
            if out is None:
                return
            if stamped:
                out = out.withColumn("_seq", F.lit(read_seq + 1))
            if len(tiers) == 1:
                adds = self.commit.adopt(
                    out.drop("tier").sortWithinPartitions(
                        "day", "metric", "ts"
                    ),
                    self.tier_path(tiers[0]),
                )
            else:
                adds = self.commit.adopt(
                    out.sortWithinPartitions("tier", "day", "metric", "ts"),
                    self.root,
                    partitioned=("tier", "day"),
                )
            try:
                with self.commit.txn(read_seq=read_seq, op=op) as tx:
                    if stamped:
                        tx.seq = read_seq + 1
                    for prefix in drops:
                        tx.drop(prefix)
                    for rel, size in adds:
                        tx.add(rel, size)
                return
            except ManifestConflict:
                if not stamped:
                    raise
        raise RuntimeError(
            f"{op} under {self.root}: lost 64 consecutive commit races"
        )

    def overwrite(self, i: int, slots: DataFrame) -> None:
        """Full rewrite of a tier (initial load / schema-change rebuild):
        one commit retires the whole old tier and adds the rewrite;
        readers mid-scan keep their snapshot's files (vacuum reclaims
        them after the grace)."""
        self._stage_commit(
            lambda _seq: self._with_day(slots, i).withColumn(
                "tier", F.lit(i)
            ),
            "overwrite",
            [i],
            drops=[f"tier={i}"],
        )

    def upsert(self, i: int, slots: DataFrame) -> None:
        """Append aligned slots to tier i, new values winning per
        (metric, ts) at read — NULLs included, matching the ring
        overwrite (kenshin/storage.py:468-480). The one-tier, no-cascade
        case of :meth:`write_tiers`."""
        self.write_tiers({i: slots}, cascade=False, op="upsert")

    def write_tiers(
        self,
        slots: dict[int, DataFrame],
        days: dict[int, list[int]] | None = None,
        bounds: "dict[int, tuple[int | None, int | None]] | None" = None,
        cascade: bool = True,
        touched: dict[int, DataFrame] | None = None,
        op: str = "write",
    ) -> None:
        """Write aligned ``(metric, ts, value)`` slots into the tiers
        ``slots`` names and, with ``cascade``, re-downsample every
        coarser tier they touch — all in ONE staged write partitioned by
        ``(tier, day)`` and ONE manifest commit, so no reader ever sees
        tier 0 ahead of its coarse tiers. The reference's ``update``
        lands the batch in its archive and propagates it into the
        coarser archives in one call on one file
        (kenshin/storage.py:482-492, 510-586); this is that call.

        Each tier's new rows, finest first:

        - a tier in ``slots`` takes its slots, appended: they win their
          (metric, ts) over what it stores when read;
        - each tier coarser than the finest source re-aggregates every
          coarse slot the sources below it touch (``config.AGG_SQL``)
          from the finer tier's stored rows overlaid with the finer
          tier's new rows of this write — the write-time downsample
          (W7), with no xff gate (PARITY W8). A tier that also has
          direct ``slots`` (points old enough to route straight to it,
          W4) keeps those over the re-aggregate, as writing it after
          the cascade from below would.

        ``touched``: per source tier, a frame whose ``(metric, ts)``
        rows pick the coarse slots the cascade re-aggregates, in place
        of the tier's slots (StreamingIngest passes the routed raw
        points, which align to the same coarse slots without the LWW
        shuffle). A tier here but not in ``slots`` is a cascade-only
        source: its stored rows feed the coarser tiers
        (:meth:`propagate`).

        ``bounds``: per source tier, its rows' ``(min ts, max ts)``
        when the caller already knows them (StreamingIngest takes them
        from its census) — they bound the finer-tier scans; ``(None,
        None)`` marks an empty source. Missing ones cost one job.

        ``days``: per tier in ``slots``, its exact touched-partition set
        when the caller knows it. With every source's set (and bounds)
        known, each cascade reads only the finer partitions its coarse
        slots cover; otherwise the source's ts range decides.

        Plan shape: each cascaded tier is one hash-partitioning of the
        finer tier's rows by (metric, coarse slot), the finer tier's new
        rows passing through it, so every tier's new rows come out of
        ONE stream and no intermediate is computed twice."""
        n = len(self.schema.archives)
        sources = {
            i: df.select("metric", F.col("ts").cast("long"))
            for i, df in {**slots, **(touched or {})}.items()
        }
        bounds = dict(bounds or {})
        if cascade:
            missing = [i for i in sources if i < n - 1 and i not in bounds]
            if missing:
                bounds.update(self._bounds({i: sources[i] for i in missing}))
            # an empty source touches nothing
            cascading = sorted(
                i for i in sources
                if i < n - 1 and bounds[i][0] is not None
            )
        else:
            cascading = []
        first = cascading[0] if cascading else n
        tiers = sorted(set(slots) | set(range(first + 1, n)))
        if not tiers:
            return

        def below(j: int) -> list[int]:
            return [i for i in cascading if i < j]

        days = days or {}
        # the finer-tier partitions each cascade reads, when every
        # source's days are known; else the range decides
        scan_days = {
            j: set().union(*(
                self._finer_days(i, days[i], bounds[i], j)
                for i in below(j)
            ))
            for j in tiers
            if j > first and all(i in days for i in below(j))
        }

        def new_rows(j: int) -> DataFrame:
            return slots[j].select(
                "metric",
                F.col("ts").cast("long"),
                F.col("value").cast("double"),
                F.lit(j).alias("tier"),
            )

        def plan(read_seq: int) -> DataFrame | None:
            stream = _union([new_rows(j) for j in tiers if j <= first])
            for j in tiers:
                if j > first:
                    srcs = below(j)
                    stream = self._cascade(
                        j,
                        read_seq,
                        stream,
                        new_rows(j) if j in slots else None,
                        [sources[i] for i in srcs],
                        min(bounds[i][0] for i in srcs),
                        max(bounds[i][1] for i in srcs),
                        scan_days.get(j),
                    )
            if stream is None:
                return None
            return self._with_tier_day(stream)

        self._stage_commit(plan, op, tiers)

    def _bounds(
        self, frames: dict[int, DataFrame]
    ) -> dict[int, tuple[int | None, int | None]]:
        """``(min ts, max ts)`` of each frame, ``(None, None)`` when
        empty, in one job."""
        probe = _union([
            df.select(F.lit(i).alias("tier"), "ts")
            for i, df in frames.items()
        ])
        got = {
            r["tier"]: (r["lo"], r["hi"])
            for r in probe.groupBy("tier")
            .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
            .collect()
        }
        return {i: got.get(i, (None, None)) for i in frames}

    def _finer_days(
        self,
        i: int,
        days: list[int],
        bounds: tuple[int, int],
        j: int,
    ) -> set[int]:
        """The partitions of tier j-1 whose rows a cascade from tier i's
        slots in partitions ``days`` within ``bounds`` re-aggregates
        into tier j's coarse slots. Each partition's slot range widens
        to whole tier-j steps; the set is exact when the partition unit
        is a multiple of the step (every shipped layout), a superset
        otherwise."""
        ui = self.part_unit(i)
        unit = self.part_unit(j - 1)
        step = self.schema.archives[j].sec_per_point
        lo, hi = int(bounds[0]), int(bounds[1])
        out: set[int] = set()
        for d in days:
            a, b = max(int(d) * ui, lo), min((int(d) + 1) * ui - 1, hi)
            if a <= b:
                a, b = a - a % step, b - b % step + step - 1
                out.update(range(a // unit, b // unit + 1))
        return out

    def _cascade(
        self,
        j: int,
        read_seq: int,
        stream: DataFrame | None,
        direct: DataFrame | None,
        srcs: list[DataFrame],
        lo: int,
        hi: int,
        scan_days: set[int] | None,
    ) -> DataFrame | None:
        """Add tier j's new rows to ``stream`` — rows ``(metric, ts,
        value, tier)`` whose tier j-1 rows are the finer tier's new rows
        and whose finer tiers' rows pass through. Each coarse slot
        ``srcs`` touch takes its ``direct`` row (tier j's own new row)
        if any, else the aggregate of the finer tier's rows, where the
        new rows win their slots over the rows stored at ``read_seq``
        (read from the touched range, partitions ``scan_days``).

        One shuffle: everything is hash-partitioned by (metric, coarse
        slot), which the per-slot resolve and the per-coarse-slot
        aggregate both need, and the rows passing through ride the
        aggregate as a list (``explode`` restores them) — so the stream
        is one chain and no part of it is planned twice. (Spark cannot
        reuse an exchange whose plan reads a cached frame under AQE, and
        the ingest batch is cached.)"""
        step = self.schema.archives[j].sec_per_point
        agg = AGG_SQL[self.schema.agg_method]
        lo, hi = lo - lo % step, hi - hi % step + step
        unit = self.part_unit(j - 1)
        path = self.tier_path(j - 1)
        span = range(lo // unit, (hi - 1) // unit + 1)
        files = self._plan_abs(
            path,
            version=read_seq,
            days=[d for d in span if scan_days is None or d in scan_days],
        )
        rank = F.lit(_STAGED_RANK).alias("_r")
        parts = [
            df.select("metric", "ts", "value", "tier", rank)
            for df in (stream, direct)
            if df is not None
        ]
        if files:
            # the touched coarse slots, broadcast; the finer tier's
            # stored rows are read only where they fall — the cascade's
            # cost is ∝ batch, not table
            touched = _union([
                src.select(
                    "metric", align_ts(F.col("ts"), step).alias("_slot")
                )
                for src in srcs
            ]).distinct()
            stored = self._scan_files(path, files).where(
                (F.col("ts") >= lo) & (F.col("ts") < hi)
            )
            stored = stored.join(
                F.broadcast(touched),
                (stored["metric"] == touched["metric"])
                & (align_ts(stored["ts"], step) == touched["_slot"]),
                "left_semi",
            )
            parts.append(stored.select(
                "metric", "ts", "value", F.lit(j - 1).alias("tier"),
                F.col("_seq").alias("_r"),
            ))
        if not parts:
            return None
        tier = F.col("tier")
        # one row per (slot, tier): a finer slot's stored and new rows
        # resolve to the highest rank (every stored stamp is below
        # _STAGED_RANK; a missing one is NULL, below every stamp)
        rows = (
            _union(parts)
            .withColumn("_slot", align_ts(F.col("ts"), step))
            .repartition("metric", "_slot")
            .groupBy("metric", "_slot", "ts", "tier")
            .agg(F.max(F.struct("_r", "value")).alias("_w"))
            .select(
                "metric", "_slot", "ts", "tier",
                F.col("_w._r").alias("_r"), F.col("_w.value").alias("value"),
            )
        )
        finer = f"CASE WHEN tier = {j - 1} THEN value END"
        out = F.struct(tier, F.col("ts"), F.col("value"))
        groups = rows.groupBy("metric", "_slot").agg(
            F.expr(agg.format(v=finer, t="ts")).alias("_agg"),
            F.max(F.when(tier == j, F.struct("value"))).alias("_direct"),
            F.count(F.when(tier >= j - 1, 1)).alias("_n"),
            # the rows that pass through: finer tiers' new rows
            F.collect_list(F.when(
                (tier < j - 1)
                | ((tier == j - 1) & (F.col("_r") == _STAGED_RANK)),
                out,
            )).alias("_pass"),
        )
        coarse = F.struct(
            F.lit(j).alias("tier"),
            F.col("_slot").alias("ts"),
            F.when(F.col("_direct").isNotNull(), F.col("_direct.value"))
            .otherwise(F.col("_agg")).alias("value"),
        )
        return groups.select(
            "metric",
            F.explode(F.when(
                F.col("_n") > 0, F.concat("_pass", F.array(coarse))
            ).otherwise(F.col("_pass"))).alias("_o"),
        ).select("metric", "_o.ts", "_o.value", "_o.tier")

    def _with_tier_day(self, stream: DataFrame) -> DataFrame:
        """A write's new rows ``(metric, ts, value, tier)``, each with
        its tier's ``day``."""
        day = None
        for j in range(len(self.schema.archives)):
            unit = F.lit(self.part_unit(j))
            day = (F.when(F.col("tier") == j, unit) if day is None
                   else day.when(F.col("tier") == j, unit))
        return stream.select(
            "metric", "ts", "value",
            (F.col("ts") / day).cast("long").alias("day"), "tier",
        )

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
        """Cascade-only :meth:`write_tiers`: re-aggregate every coarse
        slot of the tiers past ``from_tier`` that ``batch_slots``'s
        ``(metric, ts)`` touch, from tier ``from_tier``'s stored rows up
        — one staged write and one commit for the whole cascade. The
        recovery path when a write bypassed the cascade
        (:meth:`propagate_from_seq`, imports, manual upserts).

        ``bounds``: the batch's (min ts, max ts) when the caller already
        knows them — skips the bounds job. ``(None, None)`` means a
        provably empty batch (no-op), ``None`` means unknown (compute
        them).

        The batch projection is read by the bounds job and, once per
        coarser tier, the write — pin it when there is more than one
        consumer so the upstream plan
        (e.g. a CDC exceptAll diff) runs once. pin, NOT persist: the
        per-tier broadcast builds of the slot sets were measured missing
        the SQL cache, while checkpoint blocks are reused
        unconditionally."""
        touched = batch_slots.select("metric", F.col("ts").cast("long"))
        n_consumers = (len(self.schema.archives) - from_tier - 1) + (
            1 if bounds is None else 0
        )
        if n_consumers > 1:
            from kenshin_spark.session import pin

            touched = pin(touched, eager=False)
        # checkpoint blocks are reclaimed by the ContextCleaner once the
        # RDD is unreachable (session.py pins the periodic-GC cadence at
        # 45 s)
        self.write_tiers(
            {},
            bounds=None if bounds is None else {from_tier: bounds},
            touched={from_tier: touched},
            op="propagate",
        )


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
        README.md:63-71) but an append-log parquet store must watch:
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
        i: "int | dict[int, list[int] | None]",
        target_files_per_day: int = 1,
        days: list[int] | None = None,
    ) -> "list[int] | None | dict[int, list[int] | None]":
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

        ``i`` may instead map several tiers to their ``days`` (None =
        the whole tier): the maintenance pass compacts every degraded
        tier of a store at once. Every requested partition is folded in
        ONE job — the ``(tier, day)``-partitioned rewrite gives each
        partition its own task(s) (plus a metric hash for target>1), so
        the per-day output shape is exact — staged and adopted
        invisibly, then ONE transaction retires the old files and
        commits the new; readers mid-scan keep their snapshot (old files
        persist until ``vacuum``).

        Returns the days actually compacted when ``days`` is given
        (requested days absent from this tier are skipped, not
        reported), else None for the full rewrite; for a mapping, those
        results per tier that had anything to compact."""
        if not isinstance(i, dict):
            return self.compact({i: days}, target_files_per_day).get(
                i, None if days is None else []
            )
        todo: dict[int, list[int] | None] = {}
        for t, ds in i.items():
            if self._tier_empty(self.tier_path(t)):
                continue
            if ds is not None:
                live = set(self._live_days(t))
                ds = sorted(d for d in ds if d in live)
                if not ds:
                    continue
            todo[t] = ds
        if not todo:
            return {}

        def plan(read_seq: int) -> DataFrame:
            # the fold is planned from the snapshot the commit is checked
            # against: a concurrent writer's append to a folded partition
            # raises ManifestConflict instead of being retired un-folded
            df = _union([
                self._fold_log(self._scan_tier(
                    self.tier_path(t), version=read_seq, days=ds
                )).withColumn("tier", F.lit(t))
                for t, ds in todo.items()
            ])
            if target_files_per_day == 1:
                return df.repartition("tier", "day")  # one task per day
            return df.repartition(
                "tier",
                "day",
                F.pmod(F.xxhash64("metric"), F.lit(target_files_per_day)),
            )

        self._stage_commit(
            plan,
            "compact",
            list(todo),
            drops=[
                f"tier={t}" if ds is None else f"tier={t}/day={d}"
                for t, ds in todo.items()
                for d in (ds or [None])
            ],
            stamped=False,
        )
        return todo

    def _fold_log(self, raw: DataFrame) -> DataFrame:
        """Collapse an append log to one row per slot (stamp 0)."""
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
        # explicit schema: no planning-time footer read (see STORED_SCHEMA)
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
            [f for f in STORED_SCHEMA if f.name != "day"]
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
