"""The engine's one commit protocol: a manifest log on plain parquet.

``ParquetTieredStore`` and ``StreamingCorpusIngest`` make their file
layouts transactional with one mechanism,
:class:`ManifestCommitProtocol`. Every write stages its files invisibly
(``adopt``), then one atomic publication of a commit record makes them
live; readers plan every scan from the committed file list, never from
a directory listing. A read is therefore one plain call against an
immutable snapshot: no validation loop, no retry budget, no
missing-file tolerance, and no destructive window for a reader to race.

The log has the shape of a transactional table format's, so each piece
maps onto the native feature of one if the store ever moves to Delta
Lake or Apache Iceberg:

===========================  ========================================
manifest-log mechanism       table-format native feature
===========================  ========================================
``epoch()``                  Delta: table version; Iceberg: snapshot id
                             (also the ``_seq`` stamp of every mor row:
                             one version counter for LWW and travel)
``txn()`` / ``commit_txn``   Delta: optimistic commit of a new table
                             version; Iceberg: atomic metadata-pointer
                             swap to a new snapshot
``live_files(seq=)``         pinned reads are time travel
                             (``VERSION AS OF`` / ``snapshot-id``)
tombstones + ``vacuum``      Delta: RemoveFile + VACUUM; Iceberg:
                             expire_snapshots
mor log + ``compact()``      Delta: MERGE + OPTIMIZE (deletion vectors);
                             Iceberg: v2 merge-on-read +
                             rewrite_data_files
``changed_between`` CDC      Delta: Change Data Feed ``table_changes``;
                             Iceberg: incremental snapshot reads (here
                             ``version=b`` EXCEPT ALL ``version=a``)
``tx.batch_id`` /            Delta: ``SetTransaction`` (app id -> last
``committed_batch()``        batch version) — the idempotent streaming
                             sink: a replayed batch id is skipped
===========================  ========================================

Reference analog for the contract itself: the atomic whole-file update
the native engine gets from its preallocated format
(kenshin/storage.py:427-492 — header+data rewritten under one flock).
"""

from __future__ import annotations

import json
import posixpath
import time
from contextlib import contextmanager


def _is_not_found(exc: Exception) -> bool:
    """Missing-file errors only — the one class a metadata read may
    translate to "not written yet". Local fast path raises
    FileNotFoundError; the py4j path surfaces Hadoop's
    FileNotFoundException inside a Py4JJavaError, so match on the
    rendered text."""
    if isinstance(exc, (FileNotFoundError, NotADirectoryError)):
        return True
    text = f"{type(exc).__name__}: {exc}"
    return (
        "FileNotFoundException" in text
        or "PATH_NOT_FOUND" in text
        or "No such file" in text
    )


class ManifestConflict(RuntimeError):
    """A destructive transaction (drops/replaces) raced a concurrent
    commit that ADDED files under one of its dropped prefixes —
    committing would retire data the operation never folded. The
    caller retries the whole OPERATION from a fresh snapshot (rebasing
    the file list alone cannot make it safe). Same rule as Delta's
    write-serializable conflict detection."""


class ManifestTxn:
    """One atomic mutation of the committed file list: ``drop(prefix)``
    retires every live file under a directory prefix (``"tier=0"``,
    ``"tier=0/day=5"``, ``"_catalog"``); ``add(rel, size)`` registers a
    new data file (path relative to the store root). Drops apply before
    adds, so ``replace(prefix, adds)`` — retire a partition and commit
    its rewrite — is one transaction. Nothing is visible to readers
    until the commit record publishes on ``txn()`` exit.

    ``read_seq`` is the snapshot the operation PLANNED from; commit
    rebases onto any concurrent commits and uses it for conflict
    detection (pure-add transactions always rebase cleanly — file
    names are tag-unique; transactions with drops conflict iff a
    concurrent commit added a file under a dropped prefix). ``seq``,
    when set, is the exact seq the transaction must commit at: a mor
    write stamped its rows with it, so it cannot rebase. ``batch_id``,
    when set, is the stream batch this commit makes durable: it must
    exceed the committed one, and it commits even with no file
    changes (an empty batch still advances the replay guard)."""

    def __init__(
        self, read_seq: int | None = None, op: str | None = None
    ):
        self.drops: list[str] = []
        self.adds: dict[str, int] = {}
        self.clears: list[str] = []
        self.read_seq = read_seq
        self.seq: int | None = None
        self.batch_id: int | None = None
        #: what the transaction IS (``upsert``/``compact``/``expire``/
        #: ``delete``/``vacuum``/...) — recorded in the commit record so
        #: ``history()`` reads like Delta's DESCRIBE HISTORY
        self.op = op

    def drop(self, prefix: str) -> None:
        self.drops.append(prefix.rstrip("/"))

    def add(self, rel: str, size: int) -> None:
        self.adds[rel] = int(size)

    def replace(self, prefix: str, adds: list[tuple[str, int]]) -> None:
        self.drop(prefix)
        for rel, size in adds:
            self.add(rel, size)

    def clear_tombstone(self, rel: str) -> None:
        """Forget a tombstone after ``vacuum`` physically reclaimed the
        file — keeps the manifest from growing with its own history."""
        self.clears.append(rel)


class ManifestCommitProtocol:
    """Snapshot isolation on plain parquet via a manifest log — the
    local stand-in for a Delta/Iceberg commit log (VERDICT r9 "What's
    missing" #1), built from the store's own atomic-rename small-file
    machinery:

    - ``_manifest/<seq>.json`` — a full snapshot: every live data file
      (path relative to the store root) with its size. Written complete
      BEFORE the pointer moves, so no reader can load a torn manifest.
    - ``_manifest/_latest`` — the committed sequence number, flipped via
      tmp+atomic-rename (``fs.write_text_atomic``). THE commit: a
      mutation that crashed before this flip left only invisible files.

    Readers plan every scan from ``live_files()`` — never a directory
    listing — so a maintenance pass can rewrite, retire, or logically
    delete files while scans run and no reader ever observes a missing
    file or a half-applied transition. Nothing destructive happens at
    commit time: writers stage files invisibly, the manifest flip is
    atomic, and superseded files are retired LOGICALLY, then physically
    reclaimed by ``ParquetTieredStore.vacuum`` after a grace period
    (the VACUUM-retention contract every snapshotting format has: a
    scan must finish within the grace window of the snapshot it
    planned).

    At 100 TB the log has Delta's ``_delta_log`` shape (since r11):
    commits between checkpoints write O(changed-files) DELTAS
    (``<seq>.d.json`` — explicit add/drop/tombstone lists), every
    ``checkpoint_every``-th commit writes the full snapshot
    (``<seq>.json``), and readers reconstruct by replaying the delta
    tail from the nearest checkpoint — bounded metadata IO per commit
    AND per cold open, independent of store file count.
    ``store.vacuum`` trims the log to the latest checkpoint + its
    tail (time travel ends there, like Delta's VACUUM). Single writer
    by design, like the reference daemon's one writeForever thread
    (rurouni/writer.py).
    """

    #: a full snapshot (checkpoint) every N commits; the commits in
    #: between write O(changed-files) DELTAS — exactly Delta Lake's
    #: _delta_log shape (JSON actions + every-10th checkpoint), so the
    #: per-commit metadata write no longer grows with store file count
    CHECKPOINT_EVERY = 10

    #: how long ``vacuum`` keeps a retired file (and superseded log
    #: records) after its tombstone — a scan must finish within it
    GRACE_S = 3600.0

    def __init__(
        self, fs, root: str, checkpoint_every: int | None = None,
    ):
        self.fs = fs
        self.root = root
        self.dir = posixpath.join(root, "_manifest")
        self.checkpoint_every = int(
            checkpoint_every or self.CHECKPOINT_EVERY
        )
        self._cache: (
            tuple[int, dict[str, int], dict[str, float], int | None]
            | None
        ) = None

    # -- the log ------------------------------------------------------

    @property
    def _latest_path(self) -> str:
        return posixpath.join(self.dir, "_latest")

    def _manifest_path(self, seq: int) -> str:
        """A FULL snapshot (checkpoint) at ``seq``."""
        return posixpath.join(self.dir, f"{seq:010d}.json")

    def _delta_path(self, seq: int) -> str:
        """A delta commit at ``seq`` (adds/drops since ``seq - 1``)."""
        return posixpath.join(self.dir, f"{seq:010d}.d.json")

    def epoch(self) -> int:
        """The committed manifest sequence number (0 = never written) —
        exactly a table format's version/snapshot id. ``_latest`` is a
        monotonic HINT, not the commit point: the commit IS the
        exclusive publication of the ``<seq>`` record (multi-writer
        CAS), so a writer that crashed between publishing and flipping
        the hint still committed — probe forward from the hint like
        Delta lists forward from its checkpoint hint. Only a MISSING
        pointer means "no manifest yet"; any other error (permissions,
        transient IO, py4j) propagates — swallowed, it would make
        readers silently see an empty store, and inside
        ``commit_txn``'s snapshot it would rebuild the file list from
        ``{}`` and permanently drop every live file (ADVICE r10)."""
        try:
            seq = int(self.fs.read_text(self._latest_path))
        except Exception as exc:
            if _is_not_found(exc):
                seq = 0
            else:
                raise
        while self.fs.exists(self._delta_path(seq + 1)) or self.fs.exists(
            self._manifest_path(seq + 1)
        ):
            seq += 1
        return seq

    def snapshot(self, seq: int | None = None) -> dict[str, int]:
        """The committed file list ``{rel_path: size}`` at ``seq``
        (default: latest). One tiny pointer read per call; the parsed
        manifest is cached by sequence number, so steady-state reads
        cost O(1) metadata IO regardless of store size."""
        return self._load(seq)[0]

    def tombstones(self, seq: int | None = None) -> dict[str, float]:
        """Retired-but-not-yet-reclaimed files ``{rel_path:
        retired_at_unix}`` at ``seq`` (default: latest) — the analog of
        Delta's RemoveFile.deletionTimestamp. ``vacuum`` ages files by
        THIS stamp, never by file mtime: a file written long ago but
        retired a second ago must survive the full grace window so a
        scan planned from the pre-retirement snapshot can finish."""
        return self._load(seq)[1]

    def committed_batch(self, seq: int | None = None) -> int | None:
        """The last stream batch id committed at or before ``seq``
        (default: latest), ``None`` if no commit carried one — Delta's
        ``txnVersion`` for the writer. Checkpoints carry it forward, so
        vacuum's log trim never loses it."""
        return self._load(seq)[2]

    def _load(
        self, seq: int | None = None
    ) -> tuple[dict[str, int], dict[str, float], int | None]:
        if seq is None:
            seq = self.epoch()
        if seq == 0:
            return {}, {}, None
        if self._cache is not None and self._cache[0] == seq:
            return self._cache[1:]
        # walk back to the nearest checkpoint (full snapshot), then
        # replay the delta chain forward — at most checkpoint_every
        # tiny JSON reads, independent of store file count
        deltas: list[dict] = []
        base_files: dict[str, int] = {}
        base_tombs: dict[str, float] = {}
        batch = None
        at = seq
        while at > 0:
            try:
                body = json.loads(
                    self.fs.read_text(self._manifest_path(at))
                )
                base_files = body["files"]
                # manifests written before the tombstone field default
                # to {}: their already-retired files take vacuum's
                # untracked-debris (mtime-gated) path
                base_tombs = body.get("tombstones", {})
                batch = body.get("batch_id")
                break
            except Exception as exc:
                if not _is_not_found(exc):
                    raise
            try:
                deltas.append(
                    json.loads(self.fs.read_text(self._delta_path(at)))
                )
            except Exception as exc:
                if _is_not_found(exc):
                    raise ValueError(
                        f"manifest chain broken at seq {at} "
                        f"(wanted for seq {seq}) under {self.dir} — "
                        "neither checkpoint nor delta exists"
                    ) from exc
                raise
            at -= 1
        files = dict(base_files)
        tombs = dict(base_tombs)
        for d in reversed(deltas):
            for rel in d.get("drops", []):
                files.pop(rel, None)
            files.update(d.get("adds", {}))
            tombs.update(d.get("tomb_adds", {}))
            for rel in d.get("tomb_clears", []):
                tombs.pop(rel, None)
            batch = d.get("batch_id", batch)
        self._cache = (seq, files, tombs, batch)
        return files, tombs, batch

    def live_files(
        self, prefix: str = "", seq: int | None = None
    ) -> list[tuple[str, int]]:
        """Live data files under a directory prefix, ``(rel, size)``
        sorted by path. ``""`` returns everything. ``seq`` pins a
        HISTORICAL snapshot (time travel — Delta's ``versionAsOf``):
        the file list as committed at that sequence number, valid as
        long as vacuum's grace window has not reclaimed its retired
        files nor trimmed the log below its anchor checkpoint."""
        snap = self.snapshot(seq)
        if not prefix:
            return sorted(snap.items())
        p = prefix.rstrip("/") + "/"
        return sorted(
            (rel, sz) for rel, sz in snap.items() if rel.startswith(p)
        )

    def history(self, limit: int | None = None) -> list[dict]:
        """The retained commit log, newest first — Delta's DESCRIBE
        HISTORY shape: one row per commit with ``seq``, ``ts``,
        ``op``, and the adds/drops counts, walking back until the
        chain is trimmed (vacuum reclaims records below the anchor
        checkpoint; history — like time travel — ends there). Records
        written before the ``op`` field report ``op=None, ts=None``."""
        out: list[dict] = []
        at = self.epoch()
        while at > 0 and (limit is None or len(out) < limit):
            checkpoint = True
            try:
                body = json.loads(
                    self.fs.read_text(self._manifest_path(at))
                )
            except Exception as exc:
                if not _is_not_found(exc):
                    raise
                checkpoint = False
                try:
                    body = json.loads(
                        self.fs.read_text(self._delta_path(at))
                    )
                except Exception as exc2:
                    if _is_not_found(exc2):
                        break  # trimmed: history ends here
                    raise
            out.append(
                {
                    "seq": at,
                    "ts": body.get("ts"),
                    "op": body.get("op"),
                    "checkpoint": checkpoint,
                    "n_added": len(body.get("adds", {})),
                    "n_dropped": len(body.get("drops", [])),
                    "n_live": (
                        len(body["files"]) if checkpoint else None
                    ),
                }
            )
            at -= 1
        return out

    @contextmanager
    def txn(self, read_seq: int | None = None, op: str | None = None):
        """Stage a :class:`ManifestTxn`; commit it atomically on clean
        exit (no-op when the transaction carries no changes — the epoch
        only moves when the file list or the committed batch id does).
        ``read_seq`` pins the snapshot the operation planned from for
        conflict detection; defaults to the epoch at entry (callers
        that plan BEFORE opening the transaction — compaction stages
        its folds first — pass the epoch they planned at). ``op``
        labels the commit record for :meth:`history`."""
        tx = ManifestTxn(
            read_seq if read_seq is not None else self.epoch(), op=op
        )
        yield tx
        self.commit_txn(tx)

    def commit_txn(self, tx: ManifestTxn, now: float | None = None) -> int:
        """Optimistic-concurrency commit (the Delta protocol shape):
        build the next state from the CURRENT snapshot, publish the
        ``<seq>`` record via exclusive-create CAS, and on losing the
        race rebase onto the winner and retry. Pure-add transactions
        always rebase cleanly (file names are tag-unique); a
        transaction with drops whose dropped prefixes gained files
        since ``tx.read_seq`` raises :class:`ManifestConflict` — the
        operation must re-plan, or it would retire data it never
        folded; so does one pinned to a ``tx.seq`` another commit took,
        and one whose ``tx.batch_id`` is not above the committed one (a
        concurrent replay of the same stream batch).
        Concurrent writers (an ingest job + a maintenance job)
        are therefore safe at the metadata layer."""
        if not (tx.drops or tx.adds or tx.clears) and tx.batch_id is None:
            return self.epoch()
        if now is None:
            now = time.time()
        import uuid

        for _attempt in range(64):
            base = self.epoch()
            if tx.seq is not None and base + 1 != tx.seq:
                raise ManifestConflict(
                    f"transaction stamped for seq {tx.seq}, but the log "
                    f"is at {base} — re-stamp the write"
                )
            files, tombs, batch = self._load(base)
            if (
                tx.batch_id is not None
                and batch is not None
                and tx.batch_id <= batch
            ):
                raise ManifestConflict(
                    f"batch {tx.batch_id} is not above the committed "
                    f"batch {batch} — a replay already committed it"
                )
            if tx.batch_id is not None:
                batch = tx.batch_id
            files = dict(files)
            tombs = dict(tombs)
            if tx.drops and tx.read_seq is not None and base > tx.read_seq:
                try:
                    read_files = self._load(tx.read_seq)[0]
                except ValueError as exc:  # chain trimmed under us
                    raise ManifestConflict(
                        f"cannot prove drop-safety: snapshot "
                        f"{tx.read_seq} no longer reconstructible"
                    ) from exc
                grown = set(files) - set(read_files)
                for rel in grown:
                    for prefix in tx.drops:
                        if rel == prefix or rel.startswith(prefix + "/"):
                            raise ManifestConflict(
                                f"concurrent commit added {rel} under "
                                f"dropped prefix {prefix} (planned at "
                                f"seq {tx.read_seq}, now {base}) — "
                                "re-plan the operation"
                            )
            dropped: list[str] = []
            for prefix in tx.drops:
                p = prefix + "/"
                for rel in [
                    r for r in files if r.startswith(p) or r == prefix
                ]:
                    del files[rel]
                    # retirement stamp: vacuum ages by this, not file
                    # mtime (ADVICE r10 — a fresh retirement of an old
                    # file must still get the full grace window)
                    tombs[rel] = now
                    dropped.append(rel)
            tomb_clears: list[str] = []
            for rel in tx.adds:
                if tombs.pop(rel, None) is not None:  # re-added: live
                    tomb_clears.append(rel)
            files.update(tx.adds)
            for rel in tx.clears:
                if tombs.pop(rel, None) is not None:
                    tomb_clears.append(rel)
            seq = base + 1
            if seq % self.checkpoint_every == 0 or seq == 1:
                # checkpoint: the full snapshot readers re-anchor on
                target = self._manifest_path(seq)
                record = {
                    "seq": seq,
                    "ts": now,
                    "op": tx.op or "txn",
                    "files": files,
                    "tombstones": tombs,
                    # keep the per-commit change visible even in
                    # checkpoint records so history() needs no
                    # snapshot diffing
                    "adds": tx.adds,
                    "drops": dropped,
                }
                if batch is not None:  # carried: the trim keeps it
                    record["batch_id"] = batch
            else:
                # delta: O(changed files), not O(store files) — prefix
                # drops are resolved to explicit rels at commit time so
                # replay needs no prefix semantics
                target = self._delta_path(seq)
                record = {
                    "seq": seq,
                    "ts": now,
                    "op": tx.op or "txn",
                    "adds": tx.adds,
                    "drops": dropped,
                    "tomb_adds": {r: now for r in dropped},
                    "tomb_clears": tomb_clears,
                }
                if tx.batch_id is not None:
                    record["batch_id"] = tx.batch_id
            body = json.dumps(record, sort_keys=True)
            # THE commit point: exclusive publication of the complete
            # record — two racing writers can never claim the same seq
            stage = target + f".w{uuid.uuid4().hex[:8]}.tmp"
            self.fs.write_text_atomic(stage, body)
            if self.fs.publish_exclusive(stage, target):
                # monotonic hint for readers; a crash before this flip
                # is still committed (epoch() probes past the hint)
                self.fs.write_text_atomic(self._latest_path, str(seq))
                self._cache = (seq, files, tombs, batch)
                return seq
            # lost the CAS race — drop our stage file and rebase
            self.fs.delete(stage)
            self._cache = None
        raise RuntimeError(
            f"manifest commit under {self.dir}: lost 64 consecutive "
            "CAS races — writer storm or clock livelock"
        )

    # -- the write primitive and the reclaim ----------------------------

    def rel(self, path: str) -> str:
        """``path`` relative to the root — the manifest's key space (so a
        backed-up/restored root's manifest stays valid)."""
        return posixpath.relpath(path, self.root)

    def adopt(
        self, df, dest_path: str, partitioned: bool | tuple[str, ...] = True
    ) -> list[tuple[str, int]]:
        """The write primitive: write ``df`` to a private
        ``_stage/<tag>`` directory (underscore-prefixed — invisible to
        partition discovery), then MOVE the data files into the live
        tree under tag-unique names, keeping the partition directories.
        ``partitioned`` names the partition columns, outermost first
        (``True`` is ``("day",)``, ``False`` none): a store writes one
        tier under ``tier=<i>/`` with ``("day",)``, or several tiers in
        one job from its root with ``("tier", "day")``. Readers plan
        from the committed manifest, so adopted files stay invisible
        until the caller's transaction commits them; a crash at any
        point strands only invisible files for ``vacuum`` to reclaim.
        Returns ``(rel_path, size)`` pairs for the transaction."""
        import uuid

        if partitioned is True:
            partitioned = ("day",)
        cols = tuple(partitioned or ())
        tag = uuid.uuid4().hex[:12]
        stage = posixpath.join(self.root, "_stage", tag)
        writer = df.write.mode("overwrite")
        if cols:
            writer = writer.partitionBy(*cols)
        writer.parquet(stage)
        adopted: list[tuple[str, int]] = []

        def _move(src_dir: str, dst_dir: str, depth: int) -> None:
            if depth < len(cols):
                prefix = cols[depth] + "="
                for dname in self.fs.list_names(src_dir):
                    if dname.startswith(prefix):
                        _move(
                            posixpath.join(src_dir, dname),
                            posixpath.join(dst_dir, dname),
                            depth + 1,
                        )
                return
            self.fs.mkdirs(dst_dir)
            for fname, size in self.fs.list_files(src_dir):
                if not fname.endswith(".parquet"):
                    continue
                dst = posixpath.join(dst_dir, f"{tag}-{fname}")
                if not self.fs.rename(posixpath.join(src_dir, fname), dst):
                    raise IOError(f"adopt: could not move {fname} -> {dst}")
                adopted.append((self.rel(dst), size))

        _move(stage, dest_path, 0)
        self.fs.delete(stage)
        return adopted

    def vacuum(
        self,
        dirs: list[str],
        grace_s: float = GRACE_S,
        now: float | None = None,
    ) -> list[str]:
        """Physically reclaim files no committed manifest references —
        superseded rewrites, logically-expired partitions, crash-stranded
        stage debris — that are older than ``grace_s`` (the VACUUM
        retention contract: a scan must finish within the grace window
        of the snapshot it planned, exactly like Delta's
        ``VACUUM ... RETAIN`` / Iceberg's ``expire_snapshots``). ``dirs``
        are the data directories to sweep for untracked files, with
        their ``day=`` partition children. Also trims superseded
        log records past the grace window. Returns the root-relative
        paths removed."""
        cutoff = (now if now is not None else time.time()) - grace_s
        live = set(self.snapshot())
        tombs = self.tombstones()
        removed: list[str] = []

        # 1) tombstoned files age by their RETIREMENT stamp recorded in
        # the manifest (Delta's RemoveFile.deletionTimestamp), never by
        # file mtime: compact/expire/delete retire files that may have
        # been written long before, and a reader that planned from the
        # pre-retirement snapshot gets the full grace window to finish
        # (ADVICE r10). Reclaimed tombstones are then dropped from the
        # manifest in one transaction so the log doesn't grow forever.
        reclaimed: list[str] = []
        for rel, retired_at in sorted(tombs.items()):
            if retired_at >= cutoff:
                continue
            path = posixpath.join(self.root, rel)
            if self.fs.exists(path):
                self.fs.delete(path)
            removed.append(rel)
            reclaimed.append(rel)
        if reclaimed:
            tx_ = ManifestTxn(op="vacuum")
            for rel in reclaimed:
                tx_.clear_tombstone(rel)
            self.commit_txn(tx_)

        # 2) untracked debris — files neither live nor tombstoned
        # (crash-stranded adopts that never committed, or retirements
        # from a pre-tombstone manifest) — has no recorded retirement
        # time, so the file mtime gate is the only signal available
        def _sweep_dir(d: str) -> None:
            for fname, _sz, mtime in self.fs.list_file_status(d):
                rel = self.rel(posixpath.join(d, fname))
                if rel not in live and rel not in tombs and mtime < cutoff:
                    self.fs.delete(posixpath.join(d, fname))
                    removed.append(rel)

        for r in dirs:
            for dname in self.fs.list_names(r):
                sub = posixpath.join(r, dname)
                if dname.startswith("day="):
                    _sweep_dir(sub)
                    if not self.fs.list_names(sub):  # now-empty partition
                        self.fs.delete(sub)
            _sweep_dir(r)
        stage_root = posixpath.join(self.root, "_stage")
        for dname in self.fs.list_names(stage_root):
            sub = posixpath.join(stage_root, dname)
            # a crashed staged write may be partitioned (day= children)
            statuses = list(self.fs.list_file_status(sub))
            for child in self.fs.list_names(sub):
                statuses += self.fs.list_file_status(
                    posixpath.join(sub, child)
                )
            if statuses and all(m < cutoff for _, _, m in statuses):
                self.fs.delete(sub)
                removed.append(self.rel(sub))
        # log trim: the reconstruction chain for the LATEST commit is
        # (anchor checkpoint <= latest) + the deltas between —
        # everything strictly older than the anchor is reclaimable
        # (same retention contract as the data files; time travel
        # below the anchor ends where Delta's VACUUM ends it)
        latest = self.epoch()
        statuses = list(self.fs.list_file_status(self.dir))

        def _seq_of(fname: str) -> tuple[int, bool] | None:
            if fname.endswith(".d.json"):
                try:
                    return int(fname[: -len(".d.json")]), False
                except ValueError:
                    return None
            if fname.endswith(".json"):
                try:
                    return int(fname[: -len(".json")]), True
                except ValueError:
                    return None
            return None

        anchor = 0
        for fname, _sz, _m in statuses:
            parsed = _seq_of(fname)
            if parsed and parsed[1] and anchor < parsed[0] <= latest:
                anchor = parsed[0]
        if anchor == 0:
            anchor = latest  # no checkpoint found: trim nothing extra
        for fname, _sz, mtime in statuses:
            if fname.endswith(".tmp"):
                # a writer's staged commit record that lost its CAS
                # race mid-crash — reclaim once safely old
                if mtime < cutoff:
                    self.fs.delete(posixpath.join(self.dir, fname))
                    removed.append(posixpath.join("_manifest", fname))
                continue
            parsed = _seq_of(fname)
            if parsed is None:
                continue
            if parsed[0] < anchor and mtime < cutoff:
                self.fs.delete(posixpath.join(self.dir, fname))
                removed.append(posixpath.join("_manifest", fname))
        return removed
