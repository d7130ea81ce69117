"""StreamingCorpusIngest — the LLM-pipeline components composed into one
incremental job: quality gate → exact dedup → near-dup vs persisted
index → BPE tokenize → append state. Driven through the real
Structured Streaming machinery and directly as batches. Every read goes
through the committed manifest view (``_read``), never a directory."""

import json
import os
import time

import pytest

from kenshin_spark.bpe import fit
from kenshin_spark.commit import ManifestCommitProtocol
from kenshin_spark.pipeline import StreamingCorpusIngest

# heavyweight tier: excluded from the driver's fast default run
pytestmark = pytest.mark.slow

BASE = "the quick brown fox jumps over the lazy dog again and again today"
DOCS = "doc_id long, text string, source string"


def _ids(ing, part="docs"):
    return {r["doc_id"] for r in ing._read(part).collect()}


def _last_commit_parts(ing):
    """State tables the newest commit added files to."""
    seq = ing.commit.epoch()
    before = set(ing.commit.snapshot(seq - 1)) if seq > 1 else set()
    return {
        rel.split("/", 1)[0]
        for rel in ing.commit.snapshot(seq)
        if rel not in before
    }


@pytest.fixture()
def train_docs(spark):
    return spark.createDataFrame(
        [(900, BASE), (901, "completely different material here now")],
        "doc_id long, text string",
    )


class TestBatchPath:
    def _mk(self, spark, tmp_path, train_docs):
        merges = fit(train_docs, n_merges=20)
        return StreamingCorpusIngest(
            spark, str(tmp_path / "corpus"), merges
        )

    def test_first_batch_admits_and_builds_state(
        self, spark, tmp_path, train_docs
    ):
        ing = self._mk(spark, tmp_path, train_docs)
        b1 = spark.createDataFrame(
            [
                (1, BASE, "web"),
                (2, "some other totally unrelated document body", "web"),
                (3, None, "web"),           # quality: NULL
                (4, BASE, "web"),           # intra-batch exact dup of 1
            ],
            "doc_id long, text string, source string",
        )
        ing.ingest(b1, 0)
        assert ing.stats == {
            "received": 4, "quality_rejected": 1, "exact_dups": 1,
            "near_dups": 0, "admitted": 2,
        }
        assert _ids(ing) == {1, 2}
        toks = ing._read("tokens")
        assert toks.count() == 2
        assert toks.where("n_tokens <= 0").count() == 0
        assert ing._read("index").count() > 0
        dead = ing._read("dead")
        assert {r["reason"] for r in dead.collect()} == {
            "quality_rejected", "exact_dups",
        }

    def test_second_batch_dedups_against_state(
        self, spark, tmp_path, train_docs
    ):
        ing = self._mk(spark, tmp_path, train_docs)
        ing.ingest(
            spark.createDataFrame(
                [(1, BASE, "web")],
                "doc_id long, text string, source string",
            ),
            0,
        )
        b2 = spark.createDataFrame(
            [
                (10, BASE, "web"),              # exact dup of stored 1
                (11, BASE + " tail", "web"),    # NEAR dup of stored 1
                (12, "fresh genuinely novel content of its own", "web"),
            ],
            "doc_id long, text string, source string",
        )
        ing.ingest(b2, 1)
        assert ing.stats["exact_dups"] == 1
        assert ing.stats["near_dups"] == 1
        assert _ids(ing) == {1, 12}
        # the index grew to cover the new admission
        assert _ids(ing, "index") == {1, 12}


class TestStreamPath:
    def test_foreachbatch_over_file_stream(self, spark, tmp_path, train_docs):
        merges = fit(train_docs, n_merges=20)
        ing = StreamingCorpusIngest(
            spark, str(tmp_path / "corpus"), merges
        )
        in_dir = str(tmp_path / "in")
        os.makedirs(in_dir)
        with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
            for d in [
                {"doc_id": 1, "text": BASE, "source": "web"},
                {"doc_id": 2, "text": BASE, "source": "web"},  # dup
                {"doc_id": 3, "text": "novel standalone words", "source": "b"},
            ]:
                f.write(json.dumps(d) + "\n")
        stream = spark.readStream.schema(
            "doc_id long, text string, source string"
        ).json(in_dir)
        q = (
            stream.writeStream.foreachBatch(ing.ingest)
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert ing.stats["admitted"] == 2
        assert ing.stats["exact_dups"] == 1
        assert ing._read("tokens").count() == 2


class TestIdempotentReplay:
    def test_same_batch_id_is_a_noop(self, spark, tmp_path, train_docs):
        """foreachBatch re-delivers a batch with the SAME id after a
        failure — the batch id committed with its files must make the
        replay a no-op instead of appending duplicates."""
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(
            spark, str(tmp_path / "corpus"), merges
        )
        b = spark.createDataFrame(
            [(1, BASE, "web"), (2, "other words entirely", "web")],
            DOCS,
        )
        ing.ingest(b, 7)
        assert ing.commit.committed_batch() == 7
        epoch = ing.commit.epoch()
        n_docs = ing._read("docs").count()
        n_ix = ing._read("index").count()
        ing.ingest(b, 7)  # replay
        ing.ingest(b, 3)  # an older id is already covered too
        assert ing.commit.epoch() == epoch  # nothing committed
        assert ing._read("docs").count() == n_docs
        assert ing._read("index").count() == n_ix
        # a NEW batch id still processes (and dedups against state)
        ing.ingest(b, 8)
        assert ing.commit.committed_batch() == 8
        assert ing._read("docs").count() == n_docs

    def test_zero_admit_batch_still_commits(
        self, spark, tmp_path, train_docs
    ):
        """A batch whose every doc is rejected must still commit its
        batch id — otherwise a foreachBatch redelivery re-appends the
        dead-letter rows and double-counts stats."""
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(
            spark, str(tmp_path / "corpus"), merges
        )
        ing.ingest(
            spark.createDataFrame(
                [(1, BASE, "web")],
                "doc_id long, text string, source string",
            ),
            0,
        )
        all_dups = spark.createDataFrame(
            [(10, BASE, "web"), (11, None, "web")],
            "doc_id long, text string, source string",
        )
        ing.ingest(all_dups, 1)  # everything rejected → zero admitted
        assert ing.commit.committed_batch() == 1
        assert _last_commit_parts(ing) == {"dead"}
        stats_before = dict(ing.stats)
        n_dead = ing._read("dead").count()
        ing.ingest(all_dups, 1)  # redelivery must be a no-op
        assert ing.stats == stats_before
        assert ing._read("dead").count() == n_dead

    def test_empty_batch_commits_only_its_id(
        self, spark, tmp_path, train_docs
    ):
        """A batch with no rows at all has no files to add; the commit
        still records its id, so the epoch moves and a redelivery is a
        no-op."""
        ing = StreamingCorpusIngest(
            spark, str(tmp_path / "corpus"), fit(train_docs, n_merges=10)
        )
        ing.ingest(spark.createDataFrame([], DOCS), 0)
        assert ing.commit.epoch() == 1
        assert ing.commit.committed_batch() == 0
        assert ing.commit.live_files() == []
        ing.ingest(spark.createDataFrame([], DOCS), 0)
        assert ing.commit.epoch() == 1


class TestAtomicBatchCommit:
    def test_partial_batch_is_invisible_and_replay_is_exactly_once(
        self, spark, tmp_path, train_docs
    ):
        """The commit protocol's whole point: a crash between the
        per-table writes leaves staged files that (a) no reader sees —
        a doc 'written' by the crashed attempt must NOT count as a
        duplicate — and (b) the foreachBatch replay commits every table
        at once, ending with exactly-once state."""
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(
            spark, str(tmp_path / "corpus"), merges
        )
        ing.ingest(spark.createDataFrame([(1, BASE, "a")], DOCS), 0)
        # simulate batch 1 crashing after the docs write: its file sits
        # in docs/, but md5/index and the commit never landed
        crashed = spark.createDataFrame(
            [(10, "totally novel crashed-batch content here", "a")], DOCS
        )
        ing.commit.adopt(crashed, f"{ing.root}/docs", partitioned=False)
        assert ing.commit.committed_batch() == 0
        # (a) readers don't see the staged file: the committed corpus
        # is still just doc 1
        assert _ids(ing) == {1}

        # (b) the replay of batch 1 (same id, the real content) commits
        # all tables at once; the crashed attempt's file stays invisible
        replay = spark.createDataFrame(
            [
                (10, "totally novel crashed-batch content here", "a"),
                (11, BASE, "a"),  # exact dup of committed doc 1
            ],
            DOCS,
        )
        ing.ingest(replay, 1)
        assert ing.stats["exact_dups"] == 1   # 11 vs committed state
        got = sorted(r["doc_id"] for r in ing._read("docs").collect())
        assert got == [1, 10]  # exactly once, no crashed-attempt copy
        # every table landed in the batch's one commit
        assert _last_commit_parts(ing) == {
            "dead", "docs", "tokens", "md5", "index",
        }
        assert ing.commit.committed_batch() == 1

    def test_replay_never_adopts_a_crashed_attempts_files(
        self, spark, tmp_path, train_docs
    ):
        """A crashed attempt's file in a table the REPLAY produces no
        rows for (e.g. the doc is quality-rejected after a config
        change) must never become visible: the replay's commit names
        only the files it wrote."""
        from kenshin_spark.quality import predicate

        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(spark, str(tmp_path / "c"), merges)
        ing.ingest(spark.createDataFrame([(1000, BASE, "a")], DOCS), 0)
        # crashed attempt for batch 5 wrote docs rows, then died
        ing.commit.adopt(
            spark.createDataFrame(
                [(66, "stale crashed attempt content", "a")], DOCS
            ),
            f"{ing.root}/docs",
            partitioned=False,
        )
        # replay of batch 5 under a stricter gate: rejects everything
        strict = StreamingCorpusIngest(
            spark, ing.root, merges,
            quality_checks=[predicate("false", name="reject_all")],
        )
        strict.ingest(
            spark.createDataFrame(
                [(66, "stale crashed attempt content", "a")], DOCS
            ),
            5,
        )
        assert strict.commit.committed_batch() == 5
        assert _last_commit_parts(strict) == {"dead"}
        assert _ids(strict) == {1000}  # the stale doc never became visible

    def test_compact_folds_only_committed_rows(
        self, spark, tmp_path, train_docs
    ):
        """compact() folds only committed rows into one file; a crashed
        attempt's staged file is left out of the fold, and vacuum
        reclaims it with the retired files once past the grace."""
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(spark, str(tmp_path / "c"), merges)
        for i, text in enumerate(
            ["first body of words", "second body of words entirely"]
        ):
            ing.ingest(
                spark.createDataFrame(
                    [(i + 1, text + " padding tokens for quality", "a")],
                    DOCS,
                ),
                i,
            )
        # stranded: crashed attempt for batch 7
        stranded = ing.commit.adopt(
            spark.createDataFrame([(99, "orphan text", "a")], DOCS),
            f"{ing.root}/docs",
            partitioned=False,
        )
        ing.compact(min_frag=0)
        assert len(ing.commit.live_files("docs")) == 1
        assert _ids(ing) == {1, 2}  # orphan 99 left out of the fold
        # retired and stranded files stay on disk until vacuum
        assert os.path.exists(f"{ing.root}/{stranded[0][0]}")
        removed = ing.commit.vacuum(
            [f"{ing.root}/docs"], grace_s=0.0, now=time.time() + 10
        )
        assert stranded[0][0] in removed
        assert not os.path.exists(f"{ing.root}/{stranded[0][0]}")
        assert _ids(ing) == {1, 2}


class TestLegacyMarkerRoot:
    @pytest.mark.parametrize("layout", ["markers", "batch_dirs"])
    def test_marker_layout_root_is_refused(
        self, spark, tmp_path, train_docs, layout
    ):
        """A root written by the retired marker protocol has no
        manifest: read as one it would look empty, and the next batch
        would re-admit every document. Opening it must raise, naming
        the condition."""
        root = tmp_path / "legacy"
        if layout == "markers":
            (root / "_batches").mkdir(parents=True)
            (root / "_batches" / "0").write_text("committed")
        else:
            spark.createDataFrame([(1, BASE, "a")], DOCS).write.parquet(
                str(root / "docs" / "batch=0")
            )
        with pytest.raises(RuntimeError, match="batch-marker corpus layout"):
            StreamingCorpusIngest(spark, str(root), merges=[])


class TestClusterState:
    OTHER = "completely separate subject matter with many unique words"

    def _mk(self, spark, tmp_path, train_docs):
        merges = fit(train_docs, n_merges=10)
        return StreamingCorpusIngest(
            spark, str(tmp_path / "corpus"), merges, track_clusters=True
        )

    def test_rejected_neardups_cluster_with_their_canonical(
        self, spark, tmp_path, train_docs
    ):
        """track_clusters=True keeps the provenance the reject path
        loses: each rejected near-dup lands in the same component as
        the corpus doc(s) it collided with, labelled by min doc_id."""
        ing = self._mk(spark, tmp_path, train_docs)
        ing.ingest(
            spark.createDataFrame(
                [(1, BASE, "a"), (2, self.OTHER, "a")],
                "doc_id long, text string, source string",
            ),
            0,
        )
        assert ing.clusters().count() == 0  # no collisions yet
        ing.ingest(
            spark.createDataFrame(
                [(11, BASE + " tail", "a")],  # near-dup of stored 1
                "doc_id long, text string, source string",
            ),
            1,
        )
        assert ing.stats["near_dups"] == 1
        got = {(r["node"], r["cluster_id"])
               for r in ing.clusters().collect()}
        assert got == {(1, 1), (11, 1)}
        # another near-dup of the same canonical joins the same cluster
        ing.ingest(
            spark.createDataFrame(
                [(12, BASE + " coda", "a")],
                "doc_id long, text string, source string",
            ),
            2,
        )
        got = {(r["node"], r["cluster_id"])
               for r in ing.clusters().collect()}
        assert got == {(1, 1), (11, 1), (12, 1)}
        # the delta log is append-only: batch 2 appended its delta
        # in the batch's one commit, stamped with its batch id
        assert "clusters" in _last_commit_parts(ing)
        assert {
            r["batch"] for r in ing._read("clusters").collect()
        } == {1, 2}

    def test_cluster_log_survives_compaction(
        self, spark, tmp_path, train_docs
    ):
        ing = self._mk(spark, tmp_path, train_docs)
        ing.ingest(
            spark.createDataFrame(
                [(5, BASE, "a")],
                "doc_id long, text string, source string",
            ),
            0,
        )
        ing.ingest(
            spark.createDataFrame(
                [(9, BASE + " extra", "a")],
                "doc_id long, text string, source string",
            ),
            1,
        )
        ing.ingest(
            spark.createDataFrame(
                [(7, BASE + " addendum", "a")],
                "doc_id long, text string, source string",
            ),
            2,
        )
        before = {(r["node"], r["cluster_id"])
                  for r in ing.clusters().collect()}
        assert before == {(5, 5), (7, 5), (9, 5)}
        ing.maintenance(min_frag=0)  # ≥2 delta files -> the log gets folded
        assert len(ing.commit.live_files("clusters")) == 1
        assert {
            r["batch"] for r in ing._read("clusters").collect()
        } == {-1}
        after = {(r["node"], r["cluster_id"])
                 for r in ing.clusters().collect()}
        assert after == before
        # a post-compaction near-dup folds on top of the -1 baseline:
        # a cluster-merging doc relabels via a fresh delta batch
        ing.ingest(
            spark.createDataFrame(
                [(2, BASE + " postfix", "a")],
                "doc_id long, text string, source string",
            ),
            3,
        )
        got = {(r["node"], r["cluster_id"])
               for r in ing.clusters().collect()}
        assert got == {(2, 2), (5, 2), (7, 2), (9, 2)}

    def test_off_by_default_writes_no_cluster_state(
        self, spark, tmp_path, train_docs
    ):
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(spark, str(tmp_path / "c"), merges)
        ing.ingest(
            spark.createDataFrame(
                [(1, BASE, "a")],
                "doc_id long, text string, source string",
            ),
            0,
        )
        ing.ingest(
            spark.createDataFrame(
                [(2, BASE + " tail", "a")],
                "doc_id long, text string, source string",
            ),
            1,
        )
        assert ing.stats["near_dups"] == 1
        assert ing.commit.live_files("clusters") == []
        assert not os.path.exists(f"{ing.root}/clusters")


class TestMaintenance:
    #: one per batch — mutually dissimilar so near-dup never fires
    BODIES = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "solar panels convert photons into electrical current daily",
        "the orchestra rehearsed symphonies beneath the opera house",
        "glaciers carve valleys while rivers deposit fertile silt",
    ]

    def _ingest_n(self, spark, ing, n, start=0):
        for i in range(n):
            ing.ingest(
                spark.createDataFrame(
                    [(1000 + start + i, self.BODIES[start + i], "a")],
                    DOCS,
                ),
                start + i,
            )

    def test_auto_maintenance_cadence(self, spark, tmp_path, train_docs):
        """maintenance_every=2 runs the pass after batches 1 and 3 —
        state stays folded without an external cron."""
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(
            spark, str(tmp_path / "c"), merges, maintenance_every=2,
            maintenance_min_frag=0,
        )
        self._ingest_n(spark, ing, 4)
        # batches 0-3 folded after batch 3's commit (and 0-1 after 1's)
        assert len(ing.commit.live_files("docs")) == 1
        assert [h["op"] for h in ing.commit.history()].count("compact") == 8
        assert _ids(ing) == {1000, 1001, 1002, 1003}

    def test_maintenance_is_the_one_call(
        self, spark, tmp_path, train_docs
    ):
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(spark, str(tmp_path / "c"), merges)
        self._ingest_n(spark, ing, 3)
        out = ing.maintenance(target_files=1, min_frag=0)
        assert set(out["compacted"]) >= {"docs", "md5", "index"}
        # the files it retired are within the default grace
        assert out["vacuumed"] == 0
        assert ing.commit.tombstones()
        assert ing._read("docs").count() == 3
        # past the grace the same reclaim removes them
        removed = ing.commit.vacuum(
            [f"{ing.root}/{p}" for p in ing.STATE_PARTS],
            now=time.time() + 2 * ManifestCommitProtocol.GRACE_S,
        )
        assert removed and ing.commit.tombstones() == {}
        assert ing._read("docs").count() == 3

    def test_compact_floor_skips_lightly_fragmented(
        self, spark, tmp_path, train_docs
    ):
        """ADVICE r5: every micro-batch adds ≥1 file per table, so a
        bare n_files > target_files re-folds the ENTIRE corpus after
        every batch — O(corpus) IO per maintenance pass. The min_frag
        floor must leave a 3-batch table alone by default and only
        rewrite once fragmentation crosses it."""
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(spark, str(tmp_path / "c"), merges)
        self._ingest_n(spark, ing, 3)
        epoch, files = ing.commit.epoch(), ing.file_report()
        assert files["docs"] >= 3
        assert ing.compact() == {}  # default floor (16) not crossed
        assert ing.maintenance()["compacted"] == {}
        # nothing was rewritten or committed
        assert ing.commit.epoch() == epoch
        assert ing.file_report() == files
        # an explicit low floor folds as before
        assert "docs" in ing.compact(min_frag=2)


class TestCorpusCliVerbs:
    def test_audit_and_maintain(self, spark, tmp_path, train_docs, capsys):
        from kenshin_spark import cli

        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(spark, str(tmp_path / "c"), merges)
        for i, body in enumerate(TestMaintenance.BODIES[:3]):
            ing.ingest(
                spark.createDataFrame([(100 + i, body, "a")], DOCS), i
            )
        cli.main(["--root", ing.root, "--cpus", "2", "corpus-audit"])
        out = json.loads(capsys.readouterr().out)
        assert out["epoch"] == 3  # one commit per batch
        assert out["files"]["docs"] >= 3  # at least one file per batch
        cli.main([
            "--root", ing.root, "--cpus", "2",
            "corpus-maintain", "--min-frag", "0",
        ])
        out = json.loads(capsys.readouterr().out)
        assert "docs" in out["compacted"]
        assert out["vacuumed"] == 0  # retired files are within the grace
        compacted = len(out["compacted"])
        cli.main(["--root", ing.root, "--cpus", "2", "corpus-audit"])
        out = json.loads(capsys.readouterr().out)
        assert out["epoch"] == 3 + compacted  # one commit per table
        assert out["files"]["docs"] == 1
        # the folded state still dedups
        ing.ingest(
            spark.createDataFrame(
                [(9, TestMaintenance.BODIES[0], "a")], DOCS
            ),
            10,
        )
        assert ing.stats["exact_dups"] == 1


class TestCrashMatrix:
    """Kill the ingest at EVERY write boundary of the multi-table
    transaction (before the dead write, docs, tokens, md5, index, and
    before the manifest commit itself) and assert the replay converges
    to byte-identical committed state — the exactly-once claim proven
    at each point the protocol can die, not just the one crash the
    other tests simulate."""

    #: pre-seeded corpus doc + a batch with one dup and two admissions
    CORPUS = "the quick brown fox jumps over the lazy dog again today"
    BATCH = [
        (20, CORPUS, "w"),                                    # exact dup
        (21, "entirely fresh material with many novel words", "w"),
        (22, "another unrelated admitted document body here", "w"),
    ]

    def _seed(self, spark, root, merges):
        ing = StreamingCorpusIngest(spark, root, merges)
        ing.ingest(spark.createDataFrame([(1, self.CORPUS, "w")], DOCS), 0)
        return ing

    def _state(self, spark, ing):
        out = {}
        for part, schema in [
            ("docs", DOCS),
            ("md5", "doc_id long, text_md5 string"),
            ("index", "doc_id long, band int, band_key string"),
            ("dead", "row string, reason string, batch_id long"),
        ]:
            out[part] = {
                tuple(r) for r in ing._read(part, schema).collect()
            }
        out["tokens_docs"] = {
            r["doc_id"]
            for r in ing._read(
                "tokens", "doc_id long, n_tokens long"
            ).select("doc_id").collect()
        }
        return out

    @pytest.mark.parametrize("fail_before", [0, 1, 2, 3, 4, "commit"])
    def test_crash_then_replay_is_exactly_once(
        self, spark, tmp_path, train_docs, monkeypatch, fail_before
    ):
        from pyspark.sql.readwriter import DataFrameWriter

        merges = fit(train_docs, n_merges=10)
        # reference: the same batch with no crash, on its own root
        ref = self._seed(spark, str(tmp_path / "ref"), merges)
        batch_df = spark.createDataFrame(self.BATCH, DOCS)
        ref.ingest(batch_df, 1)
        want = self._state(spark, ref)

        crash_root = str(tmp_path / "crash")
        ing = self._seed(spark, crash_root, merges)
        base = self._state(spark, ing)
        epoch = ing.commit.epoch()

        class Boom(RuntimeError):
            pass

        real_parquet = DataFrameWriter.parquet
        real_commit = ManifestCommitProtocol.commit_txn
        writes = []

        def failing_parquet(self_w, path, **kw):
            # every table write of batch 1 stages under the crash root
            if path.startswith(f"{crash_root}/"):
                if len(writes) == fail_before:
                    raise Boom(f"injected crash before write {path}")
                writes.append(path)
            return real_parquet(self_w, path, **kw)

        def failing_commit(proto, tx, now=None):
            if tx.op == "ingest" and fail_before == "commit":
                raise Boom("injected crash before the manifest commit")
            return real_commit(proto, tx, now)

        monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
        monkeypatch.setattr(
            ManifestCommitProtocol, "commit_txn", failing_commit
        )
        with pytest.raises(Boom):
            ing.ingest(batch_df, 1)
        monkeypatch.undo()
        if fail_before == "commit":
            assert len(writes) == 5  # dead, docs, tokens, md5, index

        # mid-transaction state is invisible to every reader
        assert ing.commit.epoch() == epoch
        assert ing.commit.committed_batch() == 0
        assert self._state(spark, ing) == base, (
            f"crash before {fail_before} leaked uncommitted state"
        )

        # restart (fresh instance, as foreachBatch redelivery would)
        ing2 = StreamingCorpusIngest(spark, crash_root, merges)
        ing2.ingest(batch_df, 1)
        assert self._state(spark, ing2) == want, fail_before
        assert ing2.commit.committed_batch() == 1


class TestStateCompaction:
    def test_compact_folds_state_tables_and_dedup_still_works(
        self, spark, tmp_path, train_docs
    ):
        """Three tiny batches fragment every state table; compact folds
        each to one file, contents unchanged, and a subsequent batch
        still dedups against the compacted state."""
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(
            spark, str(tmp_path / "corpus"), merges
        )
        texts = [
            (1, BASE, "a"),
            (2, "wholly different second document body", "a"),
            (3, "third novel body of words entirely", "a"),
        ]
        for i, row in enumerate(texts):
            ing.ingest(spark.createDataFrame([row], DOCS), i)
        rep = ing.file_report()
        assert rep["docs"] >= 3 and rep["md5"] >= 3
        before_docs = sorted(_ids(ing))
        ing.compact(min_frag=0)
        rep2 = ing.file_report()
        assert all(v == 1 for k, v in rep2.items() if k != "dead")
        assert sorted(_ids(ing)) == before_docs
        # dedup against the COMPACTED state still works
        ing.ingest(
            spark.createDataFrame(
                [(10, BASE, "b"), (11, BASE + " tail", "b")], DOCS
            ),
            3,
        )
        assert ing.stats["exact_dups"] == 1
        assert ing.stats["near_dups"] == 1

    def test_crash_before_the_compaction_commit_changes_nothing(
        self, spark, tmp_path, train_docs, monkeypatch
    ):
        """A compaction that dies between staging its fold and the
        commit leaves the previous snapshot readable: same files, same
        rows, and a rerun folds normally."""
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(spark, str(tmp_path / "c"), merges)
        for i, body in enumerate(TestMaintenance.BODIES[:3]):
            ing.ingest(spark.createDataFrame([(i, body, "a")], DOCS), i)
        snap, before = ing.commit.snapshot(), sorted(_ids(ing, "md5"))

        class Boom(RuntimeError):
            pass

        real_commit = ManifestCommitProtocol.commit_txn

        def failing_commit(proto, tx, now=None):
            if tx.op == "compact":
                raise Boom("injected crash before the compaction commit")
            return real_commit(proto, tx, now)

        monkeypatch.setattr(
            ManifestCommitProtocol, "commit_txn", failing_commit
        )
        with pytest.raises(Boom):
            ing.compact(min_frag=0)
        monkeypatch.undo()
        assert ing.commit.snapshot() == snap
        assert sorted(_ids(ing, "md5")) == before
        assert ing.compact(min_frag=0)
        assert sorted(_ids(ing, "md5")) == before


class TestEmptyQualityChecks:
    def test_explicit_empty_checks_skips_gate(
        self, spark, tmp_path, train_docs
    ):
        """quality_checks=[] must skip the gate (not build a NULL filter
        expression), admitting rows the default checks would reject."""
        merges = fit(train_docs, n_merges=10)
        ing = StreamingCorpusIngest(
            spark, str(tmp_path / "corpus"), merges,
            quality_checks=[],
        )
        ing.ingest(
            spark.createDataFrame(
                [(1, BASE, "web"), (2, "abc", "web")],
                "doc_id long, text string, source string",
            ),
            0,
        )
        assert ing.stats["quality_rejected"] == 0
        assert ing.stats["admitted"] == 2
