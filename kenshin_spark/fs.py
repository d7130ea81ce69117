"""Filesystem abstraction for store metadata and maintenance operations.

Every filesystem manipulation the engine performs outside a Spark write —
moving adopted files into place, the manifest log's records, vacuum's
reclaim — goes through the Hadoop FileSystem API (the same abstraction
Spark's own committers use), resolved from the session's Hadoop
configuration. A root at a plain local path, a ``file:`` URI,
``hdfs://`` or ``s3a://`` all take the same code path; nothing touches
``os``/``shutil`` directly, which only ever worked on a single node
(the ``file:`` fast paths below keep the same semantics).

Transactions are not built here: the one commit protocol is the
manifest log (``kenshin_spark.commit``), whose commit point is a record
written with ``write_text_atomic`` and published with
``publish_exclusive``; no other module calls either. The
one directory-level repair left is ``recover_swap``: it restores a
``<live>.bak`` that an older whole-directory swap (write ``<live>.tmp``,
rename ``<live>`` to ``<live>.bak``, promote the tmp) left without its
live directory (the reference's analog is the ``.bak`` rename dance in
bin/kenshin-change-schema.py:103-112). On S3-style object stores a
rename is a copy, so moves there are not atomic; the manifest commit
record is what makes a write visible.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import SparkSession


class HadoopFS:
    """Thin py4j wrapper over ``org.apache.hadoop.fs.FileSystem``."""

    def __init__(self, spark: SparkSession, base: str):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._base = base
        self._conf = conf = spark._jsc.hadoopConfiguration()
        self._fc = None  # lazy FileContext (only overwrite-renames need it)
        self._fs = self._jvm.org.apache.hadoop.fs.Path(base).getFileSystem(
            conf
        )
        # Hadoop's local FS is checksummed by default; sidecar .crc files
        # would shadow every metadata write (and a file replaced outside
        # this API would fail verification). Store metadata carries its
        # own integrity (atomic tmp+rename of whole small files).
        self._fs.setWriteChecksum(False)
        self._fs.setVerifyChecksum(False)
        # local-scheme fast path for the TINY metadata files (manifest
        # records and pointer): each py4j call costs ~10
        # ms, so a tmp+rename through the JVM is ~50 ms — measured at
        # 18 s of a 50 s maintenance pass and 10 ms on every serving
        # read. Python os.replace has IDENTICAL
        # atomic-rename semantics on a local filesystem, so file:/bare
        # paths take it; hdfs:/s3a: keep the Hadoop API.
        scheme = self._fs.getUri().getScheme()
        self._local_fast = scheme in (None, "file")

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    # -- predicates / listing ---------------------------------------------
    # Each py4j round trip costs ~10 ms; the metadata ops below run
    # hundreds of times per maintenance pass (and per adopt), so file:/bare paths take the os equivalents with the SAME
    # observable semantics — measured at 2x the manifest backend's
    # whole writer wall in the r10 1M load capture. hdfs:/s3a: keep the
    # Hadoop API.

    def exists(self, path: str) -> bool:
        if self._local_fast:
            import os

            return os.path.exists(self._strip_scheme(path))
        return self._fs.exists(self._p(path))

    def list_names(self, path: str) -> list[str]:
        """Basenames of the direct children of ``path`` ([] if absent)."""
        if self._local_fast:
            import os

            try:
                return os.listdir(self._strip_scheme(path))
            except (FileNotFoundError, NotADirectoryError):
                return []
        if not self._fs.exists(self._p(path)):
            return []
        return [
            st.getPath().getName()
            for st in self._fs.listStatus(self._p(path))
        ]

    def list_files(self, path: str) -> list[tuple[str, int]]:
        """``(basename, size_bytes)`` for the direct child FILES of
        ``path`` ([] if absent) — the primitive behind the store's
        small-file audit."""
        return [(n, sz) for n, sz, _ in self.list_file_status(path)]

    def list_file_status(self, path: str) -> list[tuple[str, int, float]]:
        """``(basename, size_bytes, mtime_seconds)`` for the direct child
        FILES of ``path`` ([] if absent) — the vacuum primitive (age-
        gated physical reclaim of logically-retired files). Listing a
        FILE path returns that file's own status (Hadoop listStatus
        semantics, preserved by the local fast path)."""
        if self._local_fast:
            import os

            lp = self._strip_scheme(path)
            try:
                if os.path.isfile(lp):
                    st = os.stat(lp)
                    return [(os.path.basename(lp), st.st_size, st.st_mtime)]
                out = []
                with os.scandir(lp) as it:
                    for e in it:
                        if e.is_file():
                            st = e.stat()
                            out.append((e.name, st.st_size, st.st_mtime))
                return out
            except (FileNotFoundError, NotADirectoryError):
                return []
        if not self._fs.exists(self._p(path)):
            return []
        return [
            (st.getPath().getName(), st.getLen(),
             st.getModificationTime() / 1000.0)
            for st in self._fs.listStatus(self._p(path))
            if st.isFile()
        ]

    # -- mutation ----------------------------------------------------------

    def mkdirs(self, path: str) -> None:
        if self._local_fast:
            import os

            os.makedirs(self._strip_scheme(path), exist_ok=True)
            return
        self._fs.mkdirs(self._p(path))

    def delete(self, path: str) -> bool:
        """Recursive delete; False if the path didn't exist."""
        if self._local_fast:
            import os
            import shutil

            lp = self._strip_scheme(path)
            if not os.path.exists(lp):
                return False
            if os.path.isdir(lp):
                shutil.rmtree(lp)
            else:
                os.remove(lp)
            return True
        return self._fs.delete(self._p(path), True)

    def rename(self, src: str, dst: str) -> bool:
        if self._local_fast:
            import os

            lsrc, ldst = self._strip_scheme(src), self._strip_scheme(dst)
            # fast path only for the store's actual shape (src exists,
            # dst doesn't): Hadoop's rename has move-INTO-directory and
            # no-overwrite edge semantics os.rename doesn't share, so
            # anything else falls through to the Hadoop API
            if os.path.exists(lsrc) and not os.path.exists(ldst):
                try:
                    os.rename(lsrc, ldst)
                    return True
                except OSError:
                    return False
        return self._fs.rename(self._p(src), self._p(dst))

    def rename_overwrite(self, src: str, dst: str) -> None:
        """Single-op rename that replaces ``dst`` if present —
        ``FileContext.rename(..., Options.Rename.OVERWRITE)``, which is
        atomic on local filesystems and HDFS. The plain ``FileSystem``
        API can only delete-then-rename, a window where readers see no
        file at all."""
        if self._fc is None:
            self._fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                self._p(self._base).toUri(), self._conf
            )
        Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
        opts = self._gw.new_array(Rename, 1)
        opts[0] = Rename.OVERWRITE
        self._fc.rename(self._p(src), self._p(dst), opts)

    def publish_exclusive(self, src: str, dst: str) -> bool:
        """Atomically publish ``src``'s content at ``dst`` IFF ``dst``
        does not exist — the multi-writer commit claim (content + claim
        in ONE atomic op).
        Locally: hard-link + unlink (a single atomic syscall — no
        exists/rename window between two racing threads). On HDFS:
        plain ``FileSystem.rename``, whose contract refuses an existing
        destination. Object stores without atomic no-overwrite need a
        real table-format commit log (module docstring)."""
        if self._local_fast:
            import os

            lsrc, ldst = self._strip_scheme(src), self._strip_scheme(dst)
            try:
                os.link(lsrc, ldst)
            except FileExistsError:
                return False
            os.unlink(lsrc)
            return True
        return self._fs.rename(self._p(src), self._p(dst))

    # -- small-file IO (store metadata, not data) --------------------------

    @staticmethod
    def _strip_scheme(path: str) -> str:
        if path.startswith("file://"):
            return path[len("file://"):]
        if path.startswith("file:"):
            return path[len("file:"):]
        return path

    def read_text(self, path: str) -> str:
        if self._local_fast:
            with open(self._strip_scheme(path), encoding="utf-8") as fh:
                return fh.read()
        # py4j passes byte[] ARGUMENTS by value (a filled buffer never
        # comes back) — read via a method whose RETURN is the byte[]
        stream = self._fs.open(self._p(path))
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream
            )
            return bytes(data).decode("utf-8")
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        """Write via a staged ``.tmp`` + rename so readers never
        observe a torn file. The stage name is per-call unique:
        CONCURRENT writers of the same path (the manifest `_latest`
        hint after an optimistic-CAS commit) must not share a stage
        file, or the loser's rename hits FileNotFound after the winner
        consumed it. Still ends in ``.tmp`` so vacuum's crash-debris
        sweep recognizes stranded stages."""
        import uuid as _uuid

        tmp = f"{path}.w{_uuid.uuid4().hex[:8]}.tmp"
        if self._local_fast:
            import os

            lp, lt = self._strip_scheme(path), self._strip_scheme(tmp)
            os.makedirs(os.path.dirname(lp), exist_ok=True)
            with open(lt, "w", encoding="utf-8") as fh:
                fh.write(text)
                fh.flush()
                # fsync before the rename: without it a power loss can
                # persist a commit record or the ``_latest`` hint as an
                # empty/truncated file that the log replay would choke
                # on (ADVICE r8). These files are tiny and written
                # rarely relative to reads, so the sync cost is
                # negligible.
                os.fsync(fh.fileno())
            os.replace(lt, lp)  # same atomic-rename contract as below
            return
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        self.rename_overwrite(tmp, path)

    def copy_tree(self, src: str, dst: str) -> bool:
        """Recursive copy (no delete of source) — the backup primitive.
        Goes through Hadoop's FileUtil so a local→hdfs or hdfs→s3a copy
        is the same call."""
        conf = self._fs.getConf()
        FileUtil = self._jvm.org.apache.hadoop.fs.FileUtil
        return FileUtil.copy(
            self._fs, self._p(src), self._fs, self._p(dst), False, True, conf
        )

    def recover_swap(self, live: str) -> bool:
        """Crash recovery: if ``live`` is missing but ``live.bak`` exists
        (a swap died between stage and promote), restore it. Returns True
        if a restore happened."""
        bak = live + ".bak"
        if not self.exists(live) and self.exists(bak):
            return self.rename(bak, live)
        return False
