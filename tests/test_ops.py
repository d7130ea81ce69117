"""Whisper import (S6), schema change (M6), multimodal transforms, IVF."""

import os

import pytest
from pyspark.sql import functions as F

from kenshin_spark.config import Schema
from kenshin_spark.operators.schema_change import (
    CHANGE_META,
    NO_CHANGE,
    REBUILD,
    change_schema,
    diff_schema,
)
from kenshin_spark.sources.whisper import (
    metric_from_path,
    read_whisper_headers,
    read_whisper_points,
    unpack_whisper,
)
from kenshin_spark.store import ParquetTieredStore
from _writers import write_kenshin_hs, write_whisper

# heavyweight tier: excluded from the driver's fast default run
pytestmark = pytest.mark.slow


def rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestWhisperImport:
    def test_roundtrip(self, spark, tmp_path):
        d = tmp_path / "whisper" / "sys" / "cpu"
        os.makedirs(d)
        write_whisper(
            str(d / "user.wsp"),
            archives=[(10, 6), (60, 5)],
            points_per_archive=[
                [(1000, 1.5), (1010, 2.5), (1020, 3.5)],
                [(960, 2.0)],
            ],
            agg_method="max",
            xff=0.5,
        )
        write_whisper(
            str(d / "system.wsp"),
            archives=[(10, 6)],
            points_per_archive=[[(1000, 9.0)]],
        )
        base = str(tmp_path / "whisper")
        pts = read_whisper_points(spark, base + "/*/*/*.wsp", base=base)
        got = rows(pts)
        assert ("sys.cpu.user", 0, 10, 60, 1000, 1.5) in got
        assert ("sys.cpu.user", 1, 60, 300, 960, 2.0) in got
        assert ("sys.cpu.system", 0, 10, 60, 1000, 9.0) in got
        assert len(got) == 5  # zero-ts ring slots skipped

        heads = {r["metric"]: r for r in read_whisper_headers(
            spark, base + "/*/*/*.wsp", base=base
        ).collect()}
        assert heads["sys.cpu.user"]["agg_method"] == "max"
        assert heads["sys.cpu.user"]["archive_count"] == 2
        assert heads["sys.cpu.user"]["max_retention"] == 300
        assert abs(heads["sys.cpu.user"]["xff"] - 0.5) < 1e-6

    def test_metric_from_path(self):
        assert metric_from_path("file:/x/a/b/c.wsp", "/x") == "a.b.c"
        assert metric_from_path("/data/m.wsp", "/data") == "m"

    def test_unpack_is_exact(self):
        import struct

        blob = (
            struct.pack("!2LfL", 1, 60, 0.5, 1)
            + struct.pack("!3L", 28, 10, 2)
            + struct.pack("!Ld", 100, 7.25)
            + struct.pack("!Ld", 0, 0.0)
        )
        header, archives = unpack_whisper(blob)
        assert header["agg_method"] == "average"
        assert archives[0]["points"] == [(100, 7.25)]


class TestSchemaChange:
    OLD = Schema.from_strings("s", ".*", "10s:1h,60s:1d", xff=1.0,
                              agg_method="average")

    def test_diff(self):
        same = Schema.from_strings("s", ".*", "10s:1h,60s:1d", xff=1.0,
                                   agg_method="average")
        meta = Schema.from_strings("s", ".*", "10s:1h,60s:1d", xff=1.0,
                                   agg_method="max")
        reb = Schema.from_strings("s", ".*", "30s:1h,60s:1d", xff=1.0)
        assert diff_schema(self.OLD, same) == NO_CHANGE
        assert diff_schema(self.OLD, meta) == CHANGE_META
        assert diff_schema(self.OLD, reb) == REBUILD

    def test_rebuild_reaggregates_and_swaps(self, spark, tmp_path):
        root = str(tmp_path / "store")
        store = ParquetTieredStore(spark, self.OLD, root)
        now = 100_000
        # recent points on the 10s grid (covered by tier0's 1h retention)
        pts = spark.createDataFrame(
            [("m", now - 40, 1.0), ("m", now - 30, 2.0),
             ("m", now - 20, 3.0), ("m", now - 10, 4.0)],
            ["metric", "ts", "value"],
        )
        store.upsert(0, pts)
        store.propagate(pts)

        new_schema = Schema.from_strings(
            "s", ".*", "20s:1h,120s:1d", xff=1.0, agg_method="average"
        )
        res = change_schema(spark, store, new_schema, now)
        assert res.action == REBUILD
        assert os.path.exists(root + ".bak")  # original kept
        t0 = rows(res.store.read(0))
        # 10s points re-agg onto the 20s grid: (99960:avg(1,2)? ->
        # 99960 holds ts 99960,99970; 99980 holds 99980,99990
        assert t0 == [("m", 99960, 1.5), ("m", 99980, 3.5)]
        t1 = rows(res.store.read(1))
        assert t1 == [("m", 99960, 2.5)]  # single 120s slot, avg of 4

    def test_rebuild_on_manifest_store_reinits_the_manifest(
        self, spark, tmp_path
    ):
        """ADVICE r10: after a REBUILD, every handle that plans from the
        manifest (serving clones, a cold re-open) must see the rebuilt
        tiers — the rebuilt tree carries its own log, and the
        whole-root swap moves it along with the data."""
        root = str(tmp_path / "store")
        store = ParquetTieredStore(spark, self.OLD, root)
        now = 100_000
        pts = spark.createDataFrame(
            [("m", now - 40, 1.0), ("m", now - 30, 2.0)],
            ["metric", "ts", "value"],
        )
        store.upsert(0, pts)
        new_schema = Schema.from_strings(
            "s", ".*", "20s:1h,120s:1d", xff=1.0, agg_method="average"
        )
        res = change_schema(spark, store, new_schema, now)
        assert res.action == REBUILD
        # the returned store sees the data
        assert rows(res.store.read(0)) == [("m", 99960, 1.5)]
        # and so does a cold re-open of the same root
        reopened = ParquetTieredStore(spark, new_schema, root)
        assert reopened.commit.epoch() >= 1
        assert rows(reopened.read(0)) == [("m", 99960, 1.5)]

    def test_change_meta_keeps_data(self, spark, tmp_path):
        root = str(tmp_path / "store")
        store = ParquetTieredStore(spark, self.OLD, root)
        store.upsert(
            0,
            spark.createDataFrame([("m", 100, 1.0)], ["metric", "ts", "value"]),
        )
        new_schema = Schema.from_strings(
            "s", ".*", "10s:1h,60s:1d", xff=1.0, agg_method="max"
        )
        res = change_schema(spark, store, new_schema, now=1000)
        assert res.action == CHANGE_META
        assert res.store.root == root
        assert rows(res.store.read(0)) == [("m", 100, 1.0)]
        assert res.store.schema.agg_method == "max"


class TestMultimodalTransforms:
    def test_resize_deterministic(self, spark):
        from kenshin_spark.multimodal import attach_fake_payload
        from kenshin_spark.multimodal.transforms import resize_images

        docs = attach_fake_payload(
            spark.createDataFrame([(1, "hello world")], ["doc_id", "text"])
        )
        out1 = resize_images(docs, 32, 16).collect()[0]
        out2 = resize_images(docs, 32, 16).collect()[0]
        assert out1["resize_md5"] == out2["resize_md5"]
        assert len(out1["resized"]) == 32 * 16 * 3
        assert out1["width"] == 32 and out1["height"] == 16

    def test_audio_features(self, spark):
        from kenshin_spark.multimodal import attach_fake_payload
        from kenshin_spark.multimodal.transforms import audio_features

        docs = attach_fake_payload(
            spark.createDataFrame([(1, "abcd")], ["doc_id", "text"])
        )
        r = audio_features(docs).collect()[0]
        assert r["n_samples"] == 2  # 4 bytes / 2
        assert r["sample_rate"] == 16_000
        assert 0.0 < r["rms"] < 1.0

    def test_undecodable_real_image_magic_degrades(self):
        """A payload with a real-image magic that no available codec can
        decode takes the deterministic stand-in path (r7: the PIL seam
        is fenced — one bad image must not kill the Arrow batch)."""
        from kenshin_spark.multimodal.transforms import _resize_with_flag

        out, _ = _resize_with_flag(b"\x89PNG____", 8, 8)
        assert len(out) == 8 * 8 * 3
        assert out == _resize_with_flag(b"\x89PNG____", 8, 8)[0]


class TestIVF:
    def test_ivf_recall_vs_bruteforce(self, spark):
        """IVF with n_probe=all cells must equal brute force; with fewer
        probes it returns a subset-quality result with the same schema."""
        from kenshin_spark.io import load_table
        from kenshin_spark.similarity import brute_force_topk, ivf_topk

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.where(F.col("vec_id") < 3)
        exact = brute_force_topk(emb, queries, k=5)
        full_probe = ivf_topk(emb, queries, k=5, n_cells=4, n_probe=4)
        assert rows(exact.select("query_id", "neighbor_id", "cosine")) == rows(
            full_probe.select("query_id", "neighbor_id", "cosine")
        )
        pruned = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=2)
        assert pruned.columns == ["query_id", "neighbor_id", "rank", "cosine"]
        assert pruned.groupBy("query_id").count().agg(
            F.max("count")
        ).collect()[0][0] <= 5


class TestFnv1aGoldens:
    """The reference's golden vectors (tests/test_fnv1a.py:15-26) — the
    standard public FNV-1a 32-bit test set, as signed int32."""

    CASES = [
        ("", 0x811C9DC5),
        ("a", 0xE40C292C),
        ("foobar", 0xBF9CF968),
        ("hello", 0x4F9F2CAB),
        (b"\xff\x00\x00\x01", 0xC48FB86D),
    ]

    def test_golden_vectors(self):
        from kenshin_spark.functions.hashing import fnv1a_32

        for s, uh in self.CASES:
            want = uh - 0x100000000 if uh >= 0x80000000 else uh
            assert fnv1a_32(s) == want, s


class TestRehashImport:
    def test_whisper_tree_to_store(self, spark, tmp_path):
        import os as _os

        from kenshin_spark.operators.schema_change import (
            import_whisper_to_store,
        )

        d = tmp_path / "wsp"
        _os.makedirs(d)
        now = 100_000
        write_whisper(
            str(d / "m1.wsp"),
            archives=[(10, 360), (60, 1440)],
            points_per_archive=[
                [(now - 20, 1.0), (now - 10, 3.0)],
                [(now - 7200, 5.0)],  # only in the coarse archive
            ],
        )
        schema = Schema.from_strings("s", ".*", "20s:1h,60s:1d", xff=1.0,
                                     agg_method="average")
        store = import_whisper_to_store(
            spark, str(d) + "/*.wsp", schema, str(tmp_path / "st"), now,
            base=str(d),
        )
        t0 = rows(store.read(0))
        # 10s points re-agg to the 20s grid: 99980 holds both
        assert t0 == [("m1", 99980, 2.0)]
        t1 = rows(store.read(1))
        # tier1: fine points agg to 60s (99960 -> 2.0); the coarse
        # archive's 60s point is realigned onto our grid (92800 -> 92760)
        assert ("m1", 92760, 5.0) in t1
        assert ("m1", 99960, 2.0) in t1


class TestMaintenanceExtras:
    def test_gc_candidates_and_keep_alive(self, spark):
        from kenshin_spark.operators.maintenance import (
            gc_candidates,
            keep_alive_points,
        )

        catalog = spark.createDataFrame(
            [("live", "s", 0), ("dormant", "s", 0), ("dead", "s", 0)],
            ["metric", "schema_name", "created_ts"],
        )
        now = 200_000
        points = spark.createDataFrame(
            [("live", now - 60, 1.0), ("dormant", now - 90_000, 2.0)],
            ["metric", "ts", "value"],
        )
        gc = {r["metric"] for r in gc_candidates(catalog, points).collect()}
        assert gc == {"dead"}
        ka = rows(keep_alive_points(catalog, points, now))
        assert ka == [("dead", now, 0.0), ("dormant", now, 0.0)]


class TestRenderFunctions:
    def grid(self, spark):
        return spark.createDataFrame(
            [("a", 0, 1.0), ("a", 60, None), ("a", 120, 5.0),
             ("b", 0, 2.0), ("b", 60, 4.0), ("b", 120, None)],
            "metric string, ts long, value double",
        )

    def test_sum_and_avg_series(self, spark):
        from kenshin_spark.functions.render import avg_series, sum_series

        g = self.grid(spark)
        s = {r["ts"]: r["value"] for r in sum_series(g).collect()}
        assert s == {0: 3.0, 60: 4.0, 120: 5.0}
        a = {r["ts"]: r["value"] for r in avg_series(g).collect()}
        assert a == {0: 1.5, 60: 4.0, 120: 5.0}

    def test_non_negative_derivative(self, spark):
        from kenshin_spark.functions.render import non_negative_derivative

        g = spark.createDataFrame(
            [("c", 0, 10.0), ("c", 60, 12.0), ("c", 120, 3.0),
             ("c", 180, 4.0)],
            "metric string, ts long, value double",
        )
        d = {r["ts"]: r["value"] for r in non_negative_derivative(g).collect()}
        assert d == {0: None, 60: 2.0, 120: None, 180: 1.0}

    def test_time_shift_scale_alias_absolute(self, spark):
        from kenshin_spark.functions.render import (
            absolute,
            alias_series,
            scale,
            time_shift,
        )

        g = spark.createDataFrame(
            [("a", 60, -2.0)], "metric string, ts long, value double"
        )
        assert time_shift(g, 30).collect()[0]["ts"] == 90
        assert scale(g, 2.0).collect()[0]["value"] == -4.0
        assert alias_series(g, "x").collect()[0]["metric"] == "x"
        assert absolute(g).collect()[0]["value"] == 2.0

    def test_keep_last_value_with_limit(self, spark):
        from kenshin_spark.functions.render import keep_last_value

        g = spark.createDataFrame(
            [("a", 0, 7.0), ("a", 60, None), ("a", 120, None),
             ("a", 180, None), ("a", 240, 9.0)],
            "metric string, ts long, value double",
        )
        unlimited = {r["ts"]: r["value"] for r in keep_last_value(g).collect()}
        assert unlimited == {0: 7.0, 60: 7.0, 120: 7.0, 180: 7.0, 240: 9.0}
        limited = {r["ts"]: r["value"]
                   for r in keep_last_value(g, limit=2).collect()}
        assert limited == {0: 7.0, 60: 7.0, 120: 7.0, 180: None, 240: 9.0}

    def test_summarize_matches_downsample(self, spark):
        from kenshin_spark.functions.render import summarize

        g = self.grid(spark)
        s = {(r["metric"], r["ts"]): r["value"]
             for r in summarize(g, 120, "sum").collect()}
        assert s == {("a", 0): 1.0, ("a", 120): 5.0,
                     ("b", 0): 6.0, ("b", 120): None}


class TestCli:
    def test_cli_fetch_search_info(self, spark, tmp_path, capsys):
        from kenshin_spark import cli
        from kenshin_spark.config import Schema
        from kenshin_spark.store import ParquetTieredStore

        root = str(tmp_path / "st")
        schema = Schema.from_strings(
            "cli", ".*", "60s:1d,300s:7d,3600s:90d", xff=20.0
        )
        store = ParquetTieredStore(spark, schema, root)
        now = 100_020
        store.upsert(
            0,
            spark.createDataFrame(
                [("sys.cpu", now - 60, 5.0), ("sys.mem", now - 120, 7.0)],
                ["metric", "ts", "value"],
            ),
        )
        base = ["--root", root, "--cpus", "2"]
        cli.main(base + ["search", "--pattern", r"^sys\.c"])
        out = capsys.readouterr().out
        assert out.strip() == "sys.cpu"

        cli.main(base + [
            "fetch", "--metric", "sys.cpu",
            "--from", str(now - 300), "--until", str(now),
            "--now", str(now),
        ])
        out = capsys.readouterr().out
        assert f"{now - 60}\t5.0" in out
        assert out.count("\n") == 5  # full 300s/60s grid

        cli.main(base + ["info"])
        out = capsys.readouterr().out
        assert '"metric": "sys.mem"' in out

        cli.main(base + ["delete", "--metric", "sys.mem"])
        capsys.readouterr()
        cli.main(base + ["info"])
        assert "sys.mem" not in capsys.readouterr().out

    def test_cli_vacuum_reclaims_retired_files(self, spark, tmp_path, capsys):
        import json as _json

        from kenshin_spark import cli
        from kenshin_spark.config import Schema
        from kenshin_spark.store import ParquetTieredStore

        root = str(tmp_path / "st")
        schema = Schema.from_strings("cli", ".*", "60s:30d", xff=1.0)
        store = ParquetTieredStore(spark, schema, root)
        store.upsert(0, spark.createDataFrame(
            [("m", 60, 1.0)], ["metric", "ts", "value"]))
        store.upsert(0, spark.createDataFrame(
            [("m", 120, 2.0)], ["metric", "ts", "value"]))
        store.compact(0, days=store._live_days(0))
        base = ["--root", root, "--cpus", "2"]
        # within grace: nothing reclaimed
        cli.main(base + ["vacuum", "--grace", "3600"])
        rep = _json.loads(capsys.readouterr().out)
        assert rep == {"backend": "manifest", "removed": []}
        # grace 0 (the folded append files are retired-now): reclaimed
        cli.main(base + ["vacuum", "--grace", "-60"])
        rep = _json.loads(capsys.readouterr().out)
        assert rep["backend"] == "manifest" and rep["removed"]

    def test_cli_history_prints_commit_log(self, spark, tmp_path, capsys):
        import json as _json

        from kenshin_spark import cli
        from kenshin_spark.config import Schema
        from kenshin_spark.store import ParquetTieredStore

        root = str(tmp_path / "st")
        schema = Schema.from_strings("cli", ".*", "60s:30d", xff=1.0)
        store = ParquetTieredStore(spark, schema, root)
        store.upsert(0, spark.createDataFrame(
            [("m", 60, 1.0)], ["metric", "ts", "value"]))
        store.upsert(0, spark.createDataFrame(
            [("m", 120, 2.0)], ["metric", "ts", "value"]))
        cli.main(["--root", root, "--cpus", "2", "history", "--limit", "1"])
        recs = [_json.loads(l) for l in
                capsys.readouterr().out.strip().splitlines()]
        assert len(recs) == 1 and recs[0]["op"] == "upsert"
        cli.main(["--root", root, "--cpus", "2", "history"])
        recs = [_json.loads(l) for l in
                capsys.readouterr().out.strip().splitlines()]
        assert [r["seq"] for r in recs] == [2, 1]

    def test_cli_restore_rolls_back(self, spark, tmp_path, capsys):
        import json as _json

        from kenshin_spark import cli
        from kenshin_spark.config import Schema
        from kenshin_spark.store import ParquetTieredStore

        root = str(tmp_path / "st")
        schema = Schema.from_strings("cli", ".*", "60s:30d", xff=1.0)
        store = ParquetTieredStore(spark, schema, root)
        store.upsert(0, spark.createDataFrame(
            [("m", 60, 1.0)], ["metric", "ts", "value"]))
        good = store.commit.epoch()
        store.upsert(0, spark.createDataFrame(
            [("m", 60, 666.0)], ["metric", "ts", "value"]))
        cli.main(["--root", root, "--cpus", "2", "restore",
                  "--version", str(good)])
        rep = _json.loads(capsys.readouterr().out)
        assert rep["restored_to"] == good
        reopened = ParquetTieredStore(spark, schema, root)
        assert reopened.read(0).collect()[0].value == 1.0

    def test_cli_audit_and_compact(self, spark, tmp_path, capsys):
        """audit prints per-day file shape with the flag decision;
        compact (no --days) compacts exactly the flagged days."""
        import json as _json

        from kenshin_spark import cli
        from kenshin_spark.config import Schema
        from kenshin_spark.store import ParquetTieredStore

        root = str(tmp_path / "st")
        schema = Schema.from_strings("cli", ".*", "60s:30d", xff=20.0)
        store = ParquetTieredStore(spark, schema, root)
        for b in range(5):
            store.upsert(0, spark.createDataFrame(
                [("m", 86400 + 60 * b, float(b))],
                "metric string, ts long, value double"))
        base = ["--root", root, "--cpus", "2", "--retentions", "60s:30d"]
        cli.main(base + ["audit", "--max-files", "3",
                         "--min-file-bytes", "0"])
        lines = [_json.loads(ln)
                 for ln in capsys.readouterr().out.splitlines()]
        assert any(r["flagged"] and r["n_files"] >= 5 for r in lines)

        cli.main(base + ["compact", "--max-files", "3",
                         "--min-file-bytes", "0"])
        out = _json.loads(capsys.readouterr().out)
        assert out["compacted_days"]["0"] == [1]
        cli.main(base + ["audit", "--max-files", "3",
                         "--min-file-bytes", "0"])
        lines = [_json.loads(ln)
                 for ln in capsys.readouterr().out.splitlines()]
        assert all(not r["flagged"] for r in lines)


class TestEmbeddingLsh:
    def test_lsh_pairs_recall_sf001(self, spark):
        """Banded OR-amplification must recover >=80% of the exact pairs
        at the correctness scale factor (sf0.01), with zero false
        positives (candidates get the exact cosine verify)."""
        from kenshin_spark.dedup import embedding_neardup_pairs
        from kenshin_spark.dedup.embedding import embedding_neardup_pairs_lsh
        from kenshin_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        exact = {
            (r["vec_a"], r["vec_b"])
            for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
        }
        lsh = {
            (r["vec_a"], r["vec_b"])
            for r in embedding_neardup_pairs_lsh(emb, threshold=0.4).collect()
        }
        assert lsh <= exact          # no false positives (exact verify)
        assert len(exact) > 0
        assert len(lsh) / len(exact) >= 0.8  # OR-amplified recall

    def test_lsh_topk_matches_bruteforce_here(self, spark):
        """With 16 bands + Hamming-1 multi-probe the candidate set covers
        this corpus' true neighbors: the top-k lists agree exactly."""
        from kenshin_spark.io import load_table
        from kenshin_spark.similarity import brute_force_topk, lsh_topk

        emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
        queries = emb.where(F.col("vec_id") < 3)
        bf = rows(brute_force_topk(emb, queries, k=10))
        ls = rows(lsh_topk(emb, queries, k=10))
        assert len(ls) == len(bf) == 30
        assert ls == bf


class TestShortDocs:
    """ADVICE r1: documents with fewer than n tokens crashed the whole
    shingle pipeline (descending sequence() bounds). Short/empty docs are
    routine in real corpora — they must contribute no shingles, no
    crashes, and no candidate pairs."""

    DOCS = [
        (1, "a"),                      # 1 token < n=3
        (2, ""),                       # empty
        (3, "one two"),                # 2 tokens < n=3
        (4, "the quick brown fox jumps over dog"),
        (5, "the quick brown fox jumps over dog"),  # exact near-dup of 4
    ]

    def test_shingles_skip_short_docs(self, spark):
        from kenshin_spark.dedup.minhash import shingles

        docs = spark.createDataFrame(self.DOCS, ["doc_id", "text"])
        got = shingles(docs).groupBy("doc_id").count().collect()
        assert {r["doc_id"] for r in got} == {4, 5}

    def test_minhash_pairs_survive_short_docs(self, spark):
        from kenshin_spark.dedup import minhash_lsh_pairs

        docs = spark.createDataFrame(self.DOCS, ["doc_id", "text"])
        pairs = minhash_lsh_pairs(docs, threshold=0.5).collect()
        assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [
            (4, 5, 1.0)
        ]

    def test_ngram_jaccard_survives_short_docs(self, spark):
        from kenshin_spark.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(self.DOCS, ["doc_id", "text"])
        pairs = ngram_jaccard_pairs(docs, threshold=0.4).collect()
        assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [
            (4, 5, 1.0)
        ]


class TestCmsSketches:
    """Relational count-min sketch: exact when width dominates the key
    domain, overestimate-only under forced collisions, cell-wise-sum
    mergeability, and zero for never-seen keys."""

    def _events(self, spark):
        # key k occurs (k+1)*10 times, on two "days"
        rows = [
            (f"k{k}", day)
            for k in range(8)
            for day in (0, 1)
            for _ in range((k + 1) * 5)
        ]
        return spark.createDataFrame(rows, "key string, day int")

    def test_estimates_exact_when_width_dominates(self, spark):
        from kenshin_spark.functions.sketches import (
            cms_estimate,
            cms_sketches,
        )

        df = self._events(spark)
        cells = cms_sketches(df, "key")
        cand = df.select("key").distinct()
        got = {
            r["key"]: r["est"]
            for r in cms_estimate(cells, cand, "key").collect()
        }
        assert got == {f"k{k}": (k + 1) * 10 for k in range(8)}

    def test_overestimates_only_under_collisions(self, spark):
        from kenshin_spark.functions.sketches import (
            cms_estimate,
            cms_sketches,
        )

        df = self._events(spark)
        # width 4 << 8 keys: collisions guaranteed in every hash row
        cells = cms_sketches(df, "key", depth=2, width=4)
        cand = df.select("key").distinct()
        got = {
            r["key"]: r["est"]
            for r in cms_estimate(
                cells, cand, "key", depth=2, width=4
            ).collect()
        }
        exact = {f"k{k}": (k + 1) * 10 for k in range(8)}
        assert all(got[k] >= exact[k] for k in exact)  # never under
        assert sum(got.values()) > sum(exact.values())  # and it did collide

    def test_merge_equals_global_and_unseen_key_is_zero(
        self, spark, tmp_path
    ):
        from kenshin_spark.functions.sketches import (
            cms_estimate,
            cms_merge,
            cms_sketches,
        )

        df = self._events(spark)
        path = str(tmp_path / "daily_cells")
        cms_sketches(df, "key", "day").write.parquet(path)  # persist once
        stored = spark.read.parquet(path)
        merged = cms_merge(stored)  # all-time rollup, raw data untouched
        direct = cms_sketches(df, "key")
        assert {
            (r["row"], r["bucket"], r["c"]) for r in merged.collect()
        } == {(r["row"], r["bucket"], r["c"]) for r in direct.collect()}
        # per-day estimates from the same stored cells
        cand = df.select("key").distinct()
        per_day = {
            (r["day"], r["key"]): r["est"]
            for r in cms_estimate(stored, cand, "key", "day").collect()
        }
        assert per_day[(0, "k7")] == 40 and per_day[(1, "k7")] == 40
        ghost = spark.createDataFrame([("nope",)], "key string")
        got = cms_estimate(merged, ghost, "key").collect()
        assert [(r["key"], r["est"]) for r in got] == [("nope", 0)]

    def test_cells_build_as_a_native_streaming_aggregation(
        self, spark, tmp_path
    ):
        """The cell construction is explode + groupBy-sum, so a stream
        of keys maintains the sketch as ordinary streaming aggregation
        state — no custom stateful operator — and the streamed cells
        equal the batch cells over the same data."""
        import json as _json

        from kenshin_spark.functions.sketches import cms_sketches

        in_dir = str(tmp_path / "in")
        os.makedirs(in_dir)
        with open(os.path.join(in_dir, "a.jsonl"), "w") as f:
            for k in range(6):
                for _ in range(k + 1):
                    f.write(_json.dumps({"key": f"k{k}"}) + "\n")
        stream = spark.readStream.schema("key string").json(in_dir)
        q = (
            cms_sketches(stream, "key")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("cms_cells_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["row"], r["bucket"], r["c"])
            for r in spark.sql("SELECT * FROM cms_cells_stream").collect()
        }
        batch = spark.read.schema("key string").json(in_dir)
        want = {
            (r["row"], r["bucket"], r["c"])
            for r in cms_sketches(batch, "key").collect()
        }
        assert got == want and len(got) > 0


class TestPiiFullSweep:
    def test_all_classes_scrub_in_safe_order(self, spark):
        from kenshin_spark.pipeline import PII_ALL, scrub_pii

        df = spark.createDataFrame(
            [(
                "mail a@b.com ssn 123-45-6789 card 4111 1111 1111 1111 "
                "call 555-123-4567 from 10.0.0.1",
            )],
            "t string",
        )
        out = df.select(scrub_pii("t", include=PII_ALL).alias("s")).first()["s"]
        assert out == (
            "mail <EMAIL> ssn <SSN> card <CC> call <PHONE> from <IP>"
        )

    def test_card_is_not_eaten_by_the_phone_pattern(self, spark):
        from kenshin_spark.pipeline import PII_ALL, scrub_pii

        df = spark.createDataFrame(
            [("pay 4111-1111-1111-1111 ok",)], "t string"
        )
        out = df.select(scrub_pii("t", include=PII_ALL).alias("s")).first()["s"]
        assert out == "pay <CC> ok"  # one tag, no <PHONE> fragment

    def test_default_scope_is_unchanged(self, spark):
        from kenshin_spark.pipeline import pii_counts, scrub_pii

        df = spark.createDataFrame(
            [("a@b.com at 10.0.0.1 ssn 123-45-6789",)], "t string"
        )
        out = df.select(scrub_pii("t").alias("s")).first()["s"]
        assert out == "<EMAIL> at <IP> ssn 123-45-6789"  # ssn untouched
        c = df.select(
            *[col.alias(name) for name, col in pii_counts("t").items()]
        ).first()
        assert (c["n_emails"], c["n_ips"]) == (1, 1)


class TestTemperatureMixture:
    """Examples-proportional mixing with temperature (the mT5 recipe):
    exact-integer plan, hash-sampled membership."""

    def _corpus(self, spark):
        # heavily skewed: 6400 'big', 400 'mid', 25 'small'
        return spark.range(0, 6825).selectExpr(
            "id AS doc_id",
            "CASE WHEN id < 6400 THEN 'big' WHEN id < 6800 THEN 'mid' "
            "ELSE 'small' END AS source",
        )

    def test_alpha_damps_the_head_and_boosts_the_tail(self, spark):
        from kenshin_spark.pipeline import temperature_mixture_plan

        df = self._corpus(spark)
        plan = {
            r["source"]: r
            for r in temperature_mixture_plan(df, 1000, alpha=0.5).collect()
        }
        # sqrt weights: 80 : 20 : 5 → quotas ~761/190/47
        assert plan["big"]["quota"] == 1000 * plan["big"]["w_scaled"] // (
            plan["big"]["w_scaled"] + plan["mid"]["w_scaled"]
            + plan["small"]["w_scaled"]
        )
        shares = {s: plan[s]["quota"] / 1000 for s in plan}
        assert shares["big"] < 6400 / 6825  # damped vs proportional
        assert shares["small"] > 25 / 6825  # boosted vs proportional
        assert plan["small"]["rate_ppm"] == 1_000_000  # quota > n: take all
        # alpha=1 degenerates to proportional: rates agree up to the
        # integer-floor granularity (±DEN/n per stratum — exact for the
        # big strata, coarse for tiny quotas)
        prop = {
            r["source"]: r["rate_ppm"]
            for r in temperature_mixture_plan(df, 1000, alpha=1.0).collect()
        }
        assert abs(prop["big"] - prop["mid"]) / prop["big"] < 0.02

    def test_apply_hits_quota_and_nests_across_budgets(self, spark):
        from kenshin_spark.pipeline import temperature_mixture

        df = self._corpus(spark)
        got = temperature_mixture(df, 1000, alpha=0.5)
        by_src = {
            r["source"]: r["n"]
            for r in got.groupBy("source").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        # hash sampling is binomial around quota; 10% slack at n=761
        assert abs(by_src["big"] - 761) / 761 < 0.1
        assert by_src["small"] == 25  # rate 1e6 keeps the whole tail
        small_set = {r["doc_id"] for r in got.collect()}
        bigger = {
            r["doc_id"]
            for r in temperature_mixture(df, 2000, alpha=0.5).collect()
        }
        assert small_set <= bigger  # consistent-sampling nesting


class TestBottomKSample:
    def test_fixed_size_layout_independent_and_nested(self, spark):
        from kenshin_spark.functions.sampling import bottom_k_sample

        df = spark.range(0, 5000).selectExpr(
            "CAST(id AS STRING) AS key", "id AS payload"
        )
        s1 = {r["key"] for r in bottom_k_sample(df, 100, "key").collect()}
        assert len(s1) == 100
        # layout-independent: same rows after an arbitrary repartition
        s2 = {
            r["key"]
            for r in bottom_k_sample(
                df.repartition(7), 100, "key"
            ).collect()
        }
        assert s2 == s1
        # consistent: the 100-sample nests inside the 300-sample
        s3 = {r["key"] for r in bottom_k_sample(df, 300, "key").collect()}
        assert s1 <= s3

    def test_merge_of_per_part_samples_equals_global(self, spark):
        from kenshin_spark.functions.sampling import bottom_k_sample

        df = spark.range(0, 4000).selectExpr("CAST(id AS STRING) AS key")
        a = bottom_k_sample(df.where("id < 2000"), 50, "key")
        b = bottom_k_sample(df.where("id >= 2000"), 50, "key")
        merged = {
            r["key"]
            for r in bottom_k_sample(a.unionByName(b), 50, "key").collect()
        }
        want = {r["key"] for r in bottom_k_sample(df, 50, "key").collect()}
        assert merged == want

    def test_kmv_estimate_within_tolerance_and_exact_below_k(self, spark):
        from kenshin_spark.functions.sketches import kmv_distinct

        small = spark.range(0, 100).selectExpr("CAST(id AS STRING) AS key")
        assert kmv_distinct(small, "key").first()["approx_distinct"] == 100.0
        big = spark.range(0, 50_000).selectExpr(
            "CAST(id % 20000 AS STRING) AS key"
        )
        est = kmv_distinct(big, "key", k=256).first()["approx_distinct"]
        assert abs(est - 20000) / 20000 < 0.15  # ~1/sqrt(256) ± slack


class TestHistogramSketches:
    """Equi-width histogram cells: the quantile member of the mergeable
    sketch family. Fixed caller-supplied bounds are what make day cells
    mergeable; estimates land within one bin width."""

    def test_quantiles_within_one_bin(self, spark):
        from kenshin_spark.functions.sketches import (
            histogram_quantile,
            histogram_sketches,
        )

        df = spark.range(0, 1000).selectExpr("CAST(id AS DOUBLE) AS v")
        cells = histogram_sketches(df, "v", lo=0.0, hi=1000.0, bins=100)
        assert cells.count() <= 100
        med = histogram_quantile(
            cells, 0.5, lo=0.0, hi=1000.0, bins=100
        ).first()["q0_5"]
        assert abs(med - 499.0) <= 10.0  # one 10-wide bin
        p99 = histogram_quantile(
            cells, 0.99, lo=0.0, hi=1000.0, bins=100
        ).first()["q0_99"]
        assert abs(p99 - 989.0) <= 10.0

    def test_merge_equals_global_and_outliers_clamp(self, spark):
        from kenshin_spark.functions.sketches import (
            histogram_merge,
            histogram_quantile,
            histogram_sketches,
        )

        df = spark.range(0, 2000).selectExpr(
            "CAST(id % 1000 AS DOUBLE) AS v", "id div 1000 AS day"
        )
        daily = histogram_sketches(
            df, "v", "day", lo=0.0, hi=1000.0, bins=50
        )
        merged = histogram_merge(daily)
        direct = histogram_sketches(df, "v", lo=0.0, hi=1000.0, bins=50)
        assert {
            (r["bucket"], r["c"]) for r in merged.collect()
        } == {(r["bucket"], r["c"]) for r in direct.collect()}
        # all-underflow / all-overflow clamp to the bounds
        out = spark.createDataFrame(
            [(-5.0,), (-1.0,)], "v double"
        )
        cells = histogram_sketches(out, "v", lo=0.0, hi=10.0, bins=5)
        assert histogram_quantile(
            cells, 0.5, lo=0.0, hi=10.0, bins=5
        ).first()["q0_5"] == 0.0
        over = spark.createDataFrame([(99.0,)], "v double")
        cells = histogram_sketches(over, "v", lo=0.0, hi=10.0, bins=5)
        assert histogram_quantile(
            cells, 0.5, lo=0.0, hi=10.0, bins=5
        ).first()["q0_5"] == 10.0


class TestFunnel:
    def test_step_semantics_and_dropoffs(self, spark):
        from kenshin_spark.operators.funnel import funnel

        ev = spark.createDataFrame(
            [
                # u1 completes: view@10, click@20, purchase@25
                ("u1", "view", 10), ("u1", "click", 20), ("u1", "purchase", 25),
                # u2: click BEFORE first view never counts; no click after
                ("u2", "click", 5), ("u2", "view", 10), ("u2", "purchase", 30),
                # u3: click too late (outside window)
                ("u3", "view", 10), ("u3", "click", 200),
                # u4: never viewed → no row
                ("u4", "purchase", 10),
            ],
            ["user_id", "event_type", "ts"],
        )
        got = {
            r["user_id"]: (r["t_view"], r["t_click"], r["t_purchase"])
            for r in funnel(ev, ["view", "click", "purchase"], within=100).collect()
        }
        assert got == {
            "u1": (10, 20, 25),
            "u2": (10, None, None),
            "u3": (10, None, None),
        }


class TestIncrementalMinhash:
    def test_matches_cross_side_subset_of_full(self, spark):
        """Incremental (new batch vs corpus index) must find exactly the
        cross-side pairs the full self-join finds — no more, no less."""
        from kenshin_spark.dedup import minhash_lsh_pairs
        from kenshin_spark.dedup.minhash import (
            minhash_band_index,
            minhash_pairs_against_index,
        )

        base = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [
                (1, base),
                (2, base + " tail"),               # near-dup of 1
                (3, "completely different words entirely here now friend"),
                (10, base),                         # new side, dup of 1/2
                (11, "completely different words entirely here now friend"),
                (12, "short"),
            ],
            ["doc_id", "text"],
        )
        corpus = docs.where("doc_id < 10")
        new = docs.where("doc_id >= 10")
        inc = {
            (r["corpus_id"], r["new_id"], r["jaccard"])
            for r in minhash_pairs_against_index(
                new, corpus, minhash_band_index(corpus), threshold=0.5
            ).collect()
        }
        full = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
            if (r["doc_a"] < 10) != (r["doc_b"] < 10)
        }
        assert inc == full and len(inc) >= 2


class TestHashSampling:
    """functions/sampling.py — the properties that make hash sampling
    worth having over df.sample(): layout independence and nested rates."""

    def test_layout_independent_and_nested(self, spark):
        from kenshin_spark.functions.sampling import hash_sample

        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        s10 = {r["k"] for r in hash_sample(df, 0.10, "k").collect()}
        s50 = {r["k"] for r in hash_sample(df, 0.50, "k").collect()}
        assert s10 <= s50  # consistent sampling: smaller rate nests
        assert 120 <= len(s10) <= 280 and 850 <= len(s50) <= 1150
        # membership survives an arbitrary repartition (df.sample doesn't)
        rep = {r["k"] for r in hash_sample(df.repartition(17), 0.10, "k").collect()}
        assert rep == s10

    def test_stratified_rates(self, spark):
        from kenshin_spark.functions.sampling import stratified_hash_sample

        df = spark.range(0, 3000).selectExpr(
            "id AS k", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS s"
        )
        out = stratified_hash_sample(
            df, {"a": 0.5}, stratum_col="s", key_col="k", default_rate=0.1
        ).groupBy("s").count().collect()
        counts = {r["s"]: r["count"] for r in out}
        assert 600 <= counts["a"] <= 900      # ~750 of 1500
        assert 90 <= counts["b"] <= 220       # ~150 of 1500


class TestIntervalJoin:
    """operators/interval.py — bucketized containment join semantics and
    plan shape (equi-join, never a nested loop)."""

    def test_containment_semantics(self, spark):
        from kenshin_spark.operators.interval import interval_join

        pts = spark.createDataFrame(
            [("u1", 1, 100), ("u1", 2, 7300), ("u1", 3, 9000), ("u2", 4, 100)],
            ["user_id", "event_id", "ts"],
        )
        # i10 spans 3 buckets at bucket=3600; i11 is disjoint; u2 has no iv
        ivs = spark.createDataFrame(
            [("u1", 10, 50, 7300), ("u1", 11, 8000, 8500)],
            ["user_id", "iv_id", "start", "end"],
        )
        got = {
            (r["event_id"], r["iv_id"])
            for r in interval_join(
                pts, ivs, on="user_id", bucket=3600
            ).collect()
        }
        # event 2 at ts=7300 == end → inclusive; event 3 matches nothing
        assert got == {(1, 10), (2, 10)}

    def test_no_nested_loop_plan(self, spark):
        from kenshin_spark.operators.interval import interval_join
        from tests.test_plans import plan_of

        pts = spark.createDataFrame([("u1", 1, 100)], ["user_id", "event_id", "ts"])
        ivs = spark.createDataFrame([("u1", 10, 50, 200)], ["user_id", "iv_id", "start", "end"])
        p = plan_of(interval_join(pts, ivs, on="user_id"))
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p


class TestCentroids:
    def test_centroid_assembly_matches_flat_rows(self, spark):
        from kenshin_spark.functions.vectors import centroid_rows, centroids

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (0, [3.0, 6.0]), (1, [10.0, 20.0])],
            ["label", "embedding"],
        )
        flat = {
            (r["label"], r["dim"]): (r["centroid"], r["n_vecs"])
            for r in centroid_rows(df).collect()
        }
        assert flat == {(0, 0): (2.0, 2), (0, 1): (4.0, 2), (1, 0): (10.0, 1), (1, 1): (20.0, 1)}
        arrs = {r["label"]: (r["centroid"], r["n_vecs"]) for r in centroids(df).collect()}
        assert arrs == {0: ([2.0, 4.0], 2), 1: ([10.0, 20.0], 1)}


class TestAsofJoin:
    """operators/asof.py — backward-inclusive point-in-time semantics
    (DuckDB ASOF / pandas merge_asof), forward mirror, and tolerance."""

    L = [("m1", 100, 1.0), ("m1", 205, 2.0), ("m1", 300, 3.0),
         ("m2", 50, 4.0), ("m3", 10, 5.0)]
    R = [("m1", 100, 10.0), ("m1", 200, 20.0),
         ("m2", 40, 40.0), ("m2", 60, 60.0)]

    def _dfs(self, spark):
        return (
            spark.createDataFrame(self.L, ["metric", "ts", "value"]),
            spark.createDataFrame(self.R, ["metric", "ts", "rv"]),
        )

    def test_backward_inclusive(self, spark):
        from kenshin_spark.operators.asof import asof_join

        left, right = self._dfs(spark)
        got = {
            (r["metric"], r["ts"]): (r["ts_right"], r["rv"])
            for r in asof_join(left, right).collect()
        }
        assert got == {
            ("m1", 100): (100, 10.0),   # exact-ts right row matches
            ("m1", 205): (200, 20.0),
            ("m1", 300): (200, 20.0),
            ("m2", 50): (40, 40.0),     # not 60 (future)
            ("m3", 10): (None, None),   # key absent on right
        }

    def test_tolerance_nulls_stale_matches(self, spark):
        from kenshin_spark.operators.asof import asof_join

        left, right = self._dfs(spark)
        got = {
            (r["metric"], r["ts"]): r["ts_right"]
            for r in asof_join(left, right, tolerance=10).collect()
        }
        assert got[("m1", 205)] == 200      # distance 5 <= 10
        assert got[("m1", 300)] is None     # distance 100 > 10

    def test_forward_direction(self, spark):
        from kenshin_spark.operators.asof import asof_join

        left, right = self._dfs(spark)
        got = {
            (r["metric"], r["ts"]): r["ts_right"]
            for r in asof_join(left, right, direction="forward").collect()
        }
        assert got == {("m1", 100): 100, ("m1", 205): None,
                       ("m1", 300): None, ("m2", 50): 60, ("m3", 10): None}

    def test_single_shuffle(self, spark):
        from kenshin_spark.operators.asof import asof_join
        from tests.test_plans import plan_of

        left, right = self._dfs(spark)
        p = plan_of(asof_join(left, right))
        # formatted explain prints each node twice (tree + details):
        # 2 occurrences == ONE physical node. The whole as-of is a single
        # Exchange into a single Window — no join, no range-explosion.
        assert p.count("Exchange") == 2
        assert p.count("Window") == 2
        assert "Join" not in p and "CartesianProduct" not in p


class TestConnectedComponents:
    """Cluster assignment over near-dup pairs (dedup/cluster.py): both
    connected-components paths must resolve exactly the graph's
    components, regardless of edge order or path length."""

    def test_components_on_mixed_graph(self, spark):
        from kenshin_spark.dedup import connected_components

        # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
        edges = [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)]
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = {
            (r["node"], r["cluster_id"])
            for r in connected_components(pairs).collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1), (4, 1),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20),
        }

    def test_long_path_converges(self, spark):
        from kenshin_spark.dedup import connected_components

        # 12-node path (diameter 11): must still resolve to one
        # component.
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 12)], ["doc_a", "doc_b"]
        )
        got = connected_components(pairs).collect()
        assert all(r["cluster_id"] == 1 for r in got) and len(got) == 12

    def test_long_chain_and_cliques_keep_component_minima(self, spark):
        """Mixed graph: dense cliques + one long chain, the shape the
        deleted label->star escalation was built for. Both paths must
        produce the exact component minima for every node."""
        from kenshin_spark.dedup import connected_components

        cliques = [
            (base + i, base + j)
            for base in (100, 200, 300)
            for i in range(8)
            for j in range(i + 1, 8)
        ]
        chain = [(1000 + i, 1001 + i) for i in range(30)]
        pairs = spark.createDataFrame(cliques + chain, ["doc_a", "doc_b"])
        for algorithm in ("auto", "star"):
            got = {
                r["node"]: r["cluster_id"]
                for r in connected_components(
                    pairs, algorithm=algorithm
                ).collect()
            }
            for base in (100, 200, 300):
                assert all(got[base + i] == base for i in range(8))
            assert all(got[1000 + i] == 1000 for i in range(31))

    def test_cluster_sizes_and_survivors(self, spark):
        from kenshin_spark.dedup import canonical_survivors, duplicate_clusters

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"]
        )
        sizes = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in duplicate_clusters(pairs).collect()
        }
        assert sizes == {1: (1, 3), 2: (1, 3), 3: (1, 3), 7: (7, 2), 8: (7, 2)}
        keep = {r["doc_id"]: r["keep"] for r in canonical_survivors(pairs).collect()}
        assert keep == {1: True, 2: False, 3: False, 7: True, 8: False}

    def _asg(self, df):
        return {(r["node"], r["cluster_id"]) for r in df.collect()}

    def test_incremental_folds_batches_without_full_recompute(self, spark):
        from kenshin_spark.dedup import (
            connected_components,
            incremental_components,
        )

        b1 = spark.createDataFrame(
            [(1, 2), (10, 11)], ["doc_a", "doc_b"]
        )
        asg = connected_components(b1)
        assert self._asg(asg) == {(1, 1), (2, 1), (10, 10), (11, 10)}
        # batch 2: new node 3 extends cluster 1; 20-21 is a new cluster
        b2 = spark.createDataFrame(
            [(2, 3), (20, 21)], ["doc_a", "doc_b"]
        )
        asg = incremental_components(asg, b2)
        assert self._asg(asg) == {
            (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20),
        }
        # batch 3: node 5 BRIDGES clusters 1 and 10 — the remap path
        b3 = spark.createDataFrame([(5, 11), (5, 1)], ["doc_a", "doc_b"])
        asg = incremental_components(asg, b3)
        assert self._asg(asg) == {
            (1, 1), (2, 1), (3, 1), (5, 1), (10, 1), (11, 1),
            (20, 20), (21, 20),
        }

    def test_incremental_new_min_relabels_cluster(self, spark):
        """A new node with a smaller id than the component minimum must
        become the new label (labels are component minima)."""
        from kenshin_spark.dedup import (
            connected_components,
            incremental_components,
        )

        asg = connected_components(
            spark.createDataFrame([(10, 11)], ["doc_a", "doc_b"])
        )
        asg = incremental_components(
            asg, spark.createDataFrame([(4, 10)], ["doc_a", "doc_b"])
        )
        assert self._asg(asg) == {(4, 4), (10, 4), (11, 4)}


class TestRestrictedUnpickler:
    def test_wire_format_roundtrips(self, spark):
        import pickle

        from kenshin_spark.sources.pickle_batch import _safe_loads

        batch = [("sys.cpu", (1000, 1.5)), ("sys.mem", (1001, None))]
        assert _safe_loads(pickle.dumps(batch, protocol=2)) == batch

    def test_globals_are_refused(self, spark):
        import pickle

        from kenshin_spark.sources.pickle_batch import _safe_loads

        evil = pickle.dumps(print)  # any global lookup, however benign
        with pytest.raises(pickle.UnpicklingError):
            _safe_loads(evil)

    def test_malicious_payload_dropped_not_executed(self, spark):
        """A reduce-style RCE payload must be dropped as corrupt by the
        parse path, not executed."""
        import pickle

        from kenshin_spark.sources.pickle_batch import parse_pickle_batches

        class Evil:
            def __reduce__(self):
                return (os.system, ("echo pwned",))

        good = pickle.dumps([("ok.metric", (1000, 2.0))], protocol=2)
        blobs = spark.createDataFrame(
            [(bytearray(pickle.dumps(Evil())),), (bytearray(good),)],
            "payload binary",
        )
        got = parse_pickle_batches(blobs).collect()
        assert [(r["metric"], r["ts"], r["value"]) for r in got] == [
            ("ok.metric", 1000, 2.0)
        ]


class TestKenshinHsImport:
    """Golden fixtures built from the reference's documented .hs layout
    (kenshin/storage.py:281-348): metadata !2Lf3L, TAB-joined tag string
    with trailing reserved element, archive infos !3L, point rings
    !L{n}d with ts==0 empty slots and NULL_VALUE sentinels."""

    def _fixture(self, d, now=100_000):
        os.makedirs(d, exist_ok=True)
        write_kenshin_hs(
            str(d / "shard0.hs"),
            metrics=["sys.cpu.user", "sys.cpu.idle"],
            archives=[(10, 360), (60, 1440)],
            points_per_archive=[
                [
                    (now - 20, [1.0, 10.0]),
                    (now - 10, [3.0, None]),  # NULL sentinel for idle
                ],
                [(now - 7200, [5.0, 50.0])],
            ],
            agg_method="max",
            xff=0.5,
        )
        write_kenshin_hs(
            str(d / "shard1.hs"),
            metrics=["web.req"],
            archives=[(10, 360)],
            points_per_archive=[[(now - 10, [7.0])]],
        )

    def test_points_roundtrip(self, spark, tmp_path):
        from kenshin_spark.sources.kenshin_hs import read_kenshin_points

        d = tmp_path / "hs"
        now = 100_000
        self._fixture(d, now)
        got = rows(read_kenshin_points(spark, str(d) + "/*.hs"))
        assert ("sys.cpu.user", 0, 10, 3600, now - 20, 1.0) in got
        assert ("sys.cpu.idle", 0, 10, 3600, now - 20, 10.0) in got
        # the NULL sentinel arrives as a real NULL
        assert ("sys.cpu.idle", 0, 10, 3600, now - 10, None) in got
        assert ("sys.cpu.user", 1, 60, 86400, now - 7200, 5.0) in got
        assert ("web.req", 0, 10, 3600, now - 10, 7.0) in got
        assert len(got) == 7  # 2 metrics x 3 slots + 1 x 1 slot; rings empty

    def test_headers(self, spark, tmp_path):
        from kenshin_spark.sources.kenshin_hs import read_kenshin_headers

        d = tmp_path / "hs"
        self._fixture(d)
        heads = {
            tuple(r["metrics"]): r
            for r in read_kenshin_headers(spark, str(d) + "/*.hs").collect()
        }
        h = heads[("sys.cpu.user", "sys.cpu.idle")]
        assert h["agg_method"] == "max"
        assert h["archive_count"] == 2
        assert h["max_retention"] == 86400
        assert abs(h["xff"] - 0.5) < 1e-6
        assert h["point_size"] == 4 + 2 * 8
        assert heads[("web.req",)]["agg_method"] == "average"

    def test_import_lands_in_tiered_store(self, spark, tmp_path):
        from kenshin_spark.operators.schema_change import (
            import_kenshin_to_store,
        )

        d = tmp_path / "hs"
        now = 100_000
        self._fixture(d, now)
        schema = Schema.from_strings(
            "s", ".*", "20s:1h,60s:1d", xff=1.0, agg_method="average"
        )
        store = import_kenshin_to_store(
            spark, str(d) + "/*.hs", schema, str(tmp_path / "st"), now
        )
        t0 = rows(store.read(0))
        # 10s points re-agg to the 20s grid: user 99980 avg(1,3)=2.0;
        # idle's NULL drops, leaving its 10.0
        assert ("sys.cpu.user", 99980, 2.0) in t0
        assert ("sys.cpu.idle", 99980, 10.0) in t0
        assert ("web.req", 99980, 7.0) in t0
        t1 = rows(store.read(1))
        assert ("sys.cpu.user", 92760, 5.0) in t1


class TestSeriesTags:
    def test_parse_and_format_roundtrip(self, spark):
        from kenshin_spark.functions.tags import (
            format_series,
            series_name,
            series_tags,
            with_tags,
        )

        df = spark.createDataFrame(
            [("a.b;host=web01;cpu=0",), ("plain.metric",), ("x;k=",)],
            ["metric"],
        )
        got = {
            r["metric"]: (r["name"], r["tags"])
            for r in with_tags(df).collect()
        }
        assert got["a.b;host=web01;cpu=0"] == (
            "a.b", {"host": "web01", "cpu": "0"}
        )
        assert got["plain.metric"] == ("plain.metric", {})
        assert got["x;k="] == ("x", {"k": ""})
        # canonical re-format sorts tag keys
        canon = df.select(
            format_series(series_name("metric"), series_tags("metric")).alias("s")
        ).collect()
        assert {r["s"] for r in canon} == {
            "a.b;cpu=0;host=web01", "plain.metric", "x;k=",
        }

    def test_tag_lookup_feeds_fetch(self, spark):
        from kenshin_spark.functions.tags import metrics_matching_tags
        from kenshin_spark.operators.fetch import grid_fill

        pts = spark.createDataFrame(
            [
                ("req;host=a", 60, 1.0),
                ("req;host=b", 60, 2.0),
                ("req;host=a;dc=eu", 120, 3.0),
            ],
            ["metric", "ts", "value"],
        )
        wanted = metrics_matching_tags(pts.select("metric").distinct(),
                                       {"host": "a"})
        grid = grid_fill(pts.join(wanted, "metric"), wanted, 60, 180, 60)
        got = sorted(tuple(r) for r in grid.collect())
        assert got == [
            ("req;host=a", 60, 1.0),
            ("req;host=a", 120, None),
            ("req;host=a;dc=eu", 60, None),
            ("req;host=a;dc=eu", 120, 3.0),
        ]


class TestCliRecover:
    def test_recover_verb_restores_staged_tier(self, spark, tmp_path, capsys):
        import json

        from kenshin_spark import cli
        from kenshin_spark.config import Schema
        from kenshin_spark.store import ParquetTieredStore

        root = str(tmp_path / "st")
        schema = Schema.from_strings("cli", ".*", "60s:1d", xff=20.0)
        store = ParquetTieredStore(spark, schema, root)
        store.upsert(0, spark.createDataFrame(
            [("m", 0, 1.0)], ["metric", "ts", "value"]))
        # simulate a swap that died between stage and promote
        store.fs.rename(store.tier_path(0), store.tier_path(0) + ".bak")
        cli.main(["--root", root, "--retentions", "60s:1d", "--cpus", "2",
                  "recover"])
        out = json.loads(capsys.readouterr().out)
        assert out == {"restored": [store.tier_path(0)]}
        assert [tuple(r) for r in store.read(0).collect()] == [("m", 0, 1.0)]


class TestCliOpsTools:
    """CLI verbs for the remaining bin/ tools: change-schema, import, gc
    (bin/kenshin-change-schema.py:25-125, bin/kenshin-rehash.py:22-100,
    bin/kenshin-find-file.py:51-73)."""

    def test_change_schema_verb(self, spark, tmp_path, capsys):
        import json

        from kenshin_spark import cli

        root = str(tmp_path / "st")
        store = ParquetTieredStore(
            spark,
            Schema.from_strings("cli", ".*", "60s:1d,300s:7d,3600s:90d",
                                xff=20.0, agg_method="average"),
            root,
        )
        now = 100_020
        store.upsert(
            0,
            spark.createDataFrame(
                [("m", now - 120, 2.0), ("m", now - 60, 4.0)],
                ["metric", "ts", "value"],
            ),
        )
        cli.main([
            "--root", root, "--cpus", "2",
            "change-schema", "--new-retentions", "120s:1d,600s:7d,3600s:90d",
            "--now", str(now),
        ])
        out = json.loads(capsys.readouterr().out)
        assert out["action"] == "REBUILD"
        rebuilt = ParquetTieredStore(
            spark,
            Schema.from_strings("cli", ".*", "120s:1d,600s:7d,3600s:90d",
                                xff=20.0, agg_method="average"),
            out["root"],
        )
        got = rows(rebuilt.read(0))
        # 60s slots 99900(2.0) + 99960(4.0) re-agg onto the 120s grid
        assert got == [("m", 99840, 2.0), ("m", 99960, 4.0)]

    def test_import_verb_kenshin(self, spark, tmp_path, capsys):
        import json

        from kenshin_spark import cli

        d = tmp_path / "hs"
        os.makedirs(d)
        now = 100_000
        write_kenshin_hs(
            str(d / "s0.hs"), ["a.b"], [(60, 60)],
            [[(now - 60, [3.0]), (now - 120, [5.0])]],
        )
        root = str(tmp_path / "st")
        cli.main([
            "--root", root, "--retentions", "60s:1d", "--cpus", "2",
            "import", "--source", str(d) + "/*.hs", "--format", "kenshin",
            "--now", str(now),
        ])
        out = json.loads(capsys.readouterr().out)
        assert out["tier0_rows"] == 2

    def test_gc_verb(self, spark, tmp_path, capsys):
        from kenshin_spark import cli

        root = str(tmp_path / "st")
        store = ParquetTieredStore(
            spark,
            Schema.from_strings("cli", ".*", "60s:1d,300s:7d,3600s:90d",
                                xff=20.0),
            root,
        )
        store.catalog_add(
            spark.createDataFrame(
                [("live.m", "cli", 1), ("dead.m", "cli", 1)],
                ["metric", "schema_name", "created_ts"],
            )
        )
        store.upsert(
            0,
            spark.createDataFrame([("live.m", 60, 1.0)],
                                  ["metric", "ts", "value"]),
        )
        cli.main(["--root", root, "--cpus", "2", "gc"])
        assert capsys.readouterr().out.strip() == "dead.m"


class TestRenderFunctionsExtra:
    def grid(self, spark):
        return spark.createDataFrame(
            [("a", 0, 10.0), ("a", 60, 16.0), ("a", 120, 4.0),   # reset
             ("a", 180, None), ("a", 240, 7.0),
             ("b", 0, 1.0), ("b", 60, 1.0), ("b", 120, 1.0),
             ("b", 180, 1.0), ("b", 240, 1.0)],
            "metric string, ts long, value double",
        )

    def test_per_second(self, spark):
        from kenshin_spark.functions.render import per_second

        got = {(r["metric"], r["ts"]): r["value"]
               for r in per_second(self.grid(spark)).collect()}
        assert got[("a", 0)] is None          # series start
        assert got[("a", 60)] == 0.1          # (16-10)/60
        assert got[("a", 120)] is None        # counter reset
        assert got[("b", 120)] == 0.0

    def test_integral_and_offset_clamp(self, spark):
        from kenshin_spark.functions.render import clamp, integral, offset

        g = self.grid(spark)
        integ = {(r["metric"], r["ts"]): r["value"]
                 for r in integral(g).collect()}
        assert integ[("a", 120)] == 30.0      # 10+16+4
        assert integ[("a", 180)] is None      # NULL slot stays NULL
        assert integ[("a", 240)] == 37.0      # resumes accumulating
        off = {(r["metric"], r["ts"]): r["value"]
               for r in offset(g, 2.0).collect()}
        assert off[("a", 0)] == 12.0 and off[("a", 180)] is None
        cl = {(r["metric"], r["ts"]): r["value"]
              for r in clamp(g, lo=4.0, hi=12.0).collect()}
        assert cl[("a", 0)] == 10.0 and cl[("a", 60)] == 12.0
        assert cl[("b", 0)] == 4.0

    def test_highest_average_selects_series(self, spark):
        from kenshin_spark.functions.render import highest_average

        got = {r["metric"] for r in
               highest_average(self.grid(spark), 1).collect()}
        assert got == {"a"}  # avg(a)=9.25 > avg(b)=1


class TestCliKeepalive:
    def test_keepalive_verb(self, spark, tmp_path, capsys):
        import json

        from kenshin_spark import cli

        root = str(tmp_path / "st")
        store = ParquetTieredStore(
            spark,
            Schema.from_strings("cli", ".*", "60s:1d,300s:7d,3600s:90d",
                                xff=20.0),
            root,
        )
        now = 200_000
        store.catalog_add(
            spark.createDataFrame(
                [("fresh.m", "cli", 1), ("dormant.m", "cli", 1)],
                ["metric", "schema_name", "created_ts"],
            )
        )
        store.upsert(
            0,
            spark.createDataFrame(
                [("fresh.m", now - 60, 1.0), ("dormant.m", now - 172800, 2.0)],
                ["metric", "ts", "value"],
            ),
        )
        cli.main(["--root", root, "--cpus", "2", "keepalive",
                  "--now", str(now)])
        assert json.loads(capsys.readouterr().out)["kept_alive"] == 1
        got = {(r["metric"], r["ts"]): r["value"]
               for r in store.read(0).collect()}
        assert got[("dormant.m", now)] == 0.0
        assert ("fresh.m", now) not in got


class TestSemanticDedup:
    def test_pairs_subset_of_exhaustive(self, spark):
        """SemDeDup blocking may only LOSE pairs vs the exhaustive n²
        scan, never invent or rescore them."""
        from kenshin_spark.dedup import embedding_neardup_pairs
        from kenshin_spark.dedup.semantic import semantic_neardup_pairs
        from kenshin_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        full = {
            (r["vec_a"], r["vec_b"]): r["cosine"]
            for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
        }
        blocked = semantic_neardup_pairs(emb, threshold=0.4).collect()
        assert len(blocked) > 0
        for r in blocked:
            assert full[(r["vec_a"], r["vec_b"])] == r["cosine"]

    def test_subcells_subset_of_label_cells(self, spark):
        """The md5-sample sub-cell refinement (the 100 TB path where
        cell count scales with n, not |labels|) may only shrink the pair
        set further — and must keep cosines identical."""
        from kenshin_spark.dedup.semantic import semantic_neardup_pairs
        from kenshin_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        label_cells = {
            (r["vec_a"], r["vec_b"]): r["cosine"]
            for r in semantic_neardup_pairs(emb, threshold=0.4).collect()
        }
        sub = semantic_neardup_pairs(emb, threshold=0.4, subcells=8).collect()
        assert len(sub) > 0
        for r in sub:
            assert label_cells[(r["vec_a"], r["vec_b"])] == r["cosine"]


class TestPqTopk:
    def test_pq_recall_and_adc_exactness(self, spark):
        """PQ top-5 should mostly land in the exact top-10 (recall), and
        the ADC score must EQUAL dot(query, reconstructed corpus vector)
        — the lookup is an exact evaluation of an approximate
        representation."""
        import numpy as np

        from kenshin_spark.io import load_table
        from kenshin_spark.similarity import brute_force_topk
        from kenshin_spark.functions.vectors import md5_sample
        from kenshin_spark.similarity.pq import pq_topk

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        q = emb.where("vec_id < 5")
        exact = brute_force_topk(emb, q, k=10).collect()
        got = pq_topk(emb, q, k=5).collect()
        assert len(got) == 25  # 5 queries × top-5
        exact_by_q = {}
        for r in exact:
            exact_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(
            1 for r in got if r["neighbor_id"] in exact_by_q[r["query_id"]]
        )
        assert hits >= 13  # >= ~52% of PQ top-5 in exact top-10

        # ADC exactness: recompute one score from the codebooks, the
        # 4-dim slices of the 16 md5-sample rows
        S = md5_sample(emb, 16)
        m, dsub = 16, S.shape[1] // 16
        C = [S[:, j * dsub:(j + 1) * dsub] for j in range(m)]
        rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.where("vec_id < 200").collect()}
        r0 = next(r for r in got if r["neighbor_id"] in rows)
        qv, cv = rows[r0["query_id"]], rows[r0["neighbor_id"]]
        recon = np.concatenate([
            C[j][np.argmin(((cv[j*dsub:(j+1)*dsub] - C[j]) ** 2).sum(axis=1))]
            for j in range(m)
        ])
        assert abs(float(np.dot(qv, recon)) - r0["score"]) < 1e-6


class TestQuantizedTopk:
    def test_quantized_ranking_close_to_exact(self, spark):
        """Int8 quantization keeps ~cosine ranking: every quantized
        top-3 neighbor should sit in the exact top-10."""
        from kenshin_spark.io import load_table
        from kenshin_spark.similarity import brute_force_topk
        from kenshin_spark.similarity.quantize import quantized_topk

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        q = emb.where("vec_id < 5")
        exact = brute_force_topk(emb, q, k=10).collect()
        quant = quantized_topk(emb, q, k=3).collect()
        exact_by_q = {}
        for r in exact:
            exact_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert len(quant) == 15  # 5 queries x top-3
        hits = sum(
            1 for r in quant if r["neighbor_id"] in exact_by_q[r["query_id"]]
        )
        assert hits >= 12  # >= 80% of quantized top-3 in exact top-10

    def test_codes_bounded(self, spark):
        from kenshin_spark.io import load_table
        from kenshin_spark.similarity.quantize import quantize_int8

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        qz = quantize_int8()
        row = emb.select(qz("embedding").alias("q")).first()
        assert max(abs(v) for v in row["q"]) <= 127


class TestRenderSeriesArithmetic:
    def grid(self, spark):
        return spark.createDataFrame(
            [("a.one", 0, 10.0), ("a.one", 60, 0.0), ("a.one", 120, None),
             ("b.two", 0, 30.0), ("b.two", 60, 10.0), ("b.two", 120, 4.0)],
            "metric string, ts long, value double",
        )

    def test_invert_logarithm_alias_by_node(self, spark):
        from kenshin_spark.functions.render import (
            alias_by_node,
            invert,
            logarithm,
        )

        g = self.grid(spark)
        inv = {(r["metric"], r["ts"]): r["value"] for r in invert(g).collect()}
        assert inv[("a.one", 0)] == 0.1
        assert inv[("a.one", 60)] is None     # zero → NULL, not inf
        assert inv[("a.one", 120)] is None
        lg = {(r["metric"], r["ts"]): r["value"]
              for r in logarithm(g, 10.0).collect()}
        assert lg[("a.one", 0)] == 1.0
        assert lg[("a.one", 60)] is None      # log(0) → NULL
        names = {r["metric"] for r in alias_by_node(g, 1).collect()}
        assert names == {"one", "two"}

    def test_divide_series_and_as_percent(self, spark):
        from kenshin_spark.functions.render import as_percent, divide_series

        g = self.grid(spark)
        a = g.where("metric = 'a.one'")
        b = g.where("metric = 'b.two'").select(
            F.lit("a.one").alias("metric"), "ts", "value"
        )
        ratio = {r["ts"]: r["value"] for r in divide_series(a, b).collect()}
        assert ratio[0] == 10.0 / 30.0
        assert ratio[60] == 0.0
        assert ratio[120] is None             # NULL dividend
        pct = {(r["metric"], r["ts"]): r["value"]
               for r in as_percent(g).collect()}
        assert pct[("a.one", 0)] == 25.0      # 10 of 40
        assert pct[("b.two", 0)] == 75.0

    def test_n_percentile_and_sort_by_maxima(self, spark):
        from kenshin_spark.functions.render import (
            n_percentile,
            sort_by_maxima,
        )

        g = self.grid(spark)
        flat = {(r["metric"], r["ts"]): r["value"]
                for r in n_percentile(g, 50.0).collect()}
        assert flat[("a.one", 0)] == flat[("a.one", 120)] == 5.0  # median
        top = {r["metric"] for r in sort_by_maxima(g, 1).collect()}
        assert top == {"b.two"}               # peak 30 beats 10


class TestLeakageSafeSplit:
    def test_near_dup_pairs_never_straddle(self, spark):
        """Every near-dup pair must land on ONE side of the split; the
        split must be deterministic and roughly honor the rate."""
        from kenshin_spark.dedup import minhash_lsh_pairs
        from kenshin_spark.io import load_table
        from kenshin_spark.pipeline import leakage_safe_split

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        pairs = minhash_lsh_pairs(docs, threshold=0.5)
        out = leakage_safe_split(docs, pairs, eval_rate=0.2)
        side = {r["doc_id"]: r["split"] for r in out.collect()}
        n_pairs = 0
        for p in pairs.collect():
            n_pairs += 1
            assert side[p["doc_a"]] == side[p["doc_b"]], (
                f"pair {p['doc_a']}/{p['doc_b']} straddles the split"
            )
        assert n_pairs > 0  # the corpus does contain near-dups
        n_eval = sum(1 for s in side.values() if s == "eval")
        assert 0.05 < n_eval / len(side) < 0.45  # rate in the ballpark
        # deterministic: a second run produces the identical assignment
        again = {r["doc_id"]: r["split"]
                 for r in leakage_safe_split(docs, pairs, 0.2).collect()}
        assert again == side


class TestTokenDrift:
    def test_identical_snapshots_have_zero_drift(self, spark):
        from kenshin_spark.io import load_table
        from kenshin_spark.pipeline import token_drift

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        out = token_drift(docs, docs, top_k=20).collect()
        assert len(out) == 20
        assert all(r["chi2"] == 0.0 for r in out)
        assert all(r["old_ppm"] == r["new_ppm"] for r in out)

    def test_injected_shift_ranks_first(self, spark):
        from pyspark.sql import functions as F

        from kenshin_spark.io import load_table
        from kenshin_spark.pipeline import token_drift

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        # new snapshot: half the docs get a flood of one synthetic token
        flooded = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat_ws(
                    " ", F.col("text"),
                    F.lit("zzdrift zzdrift zzdrift zzdrift zzdrift"),
                ),
            ).otherwise(F.col("text")),
        )
        out = token_drift(docs, flooded, top_k=5).collect()
        assert out[0]["token"] == "zzdrift"
        assert out[0]["old_count"] == 0 and out[0]["new_count"] > 0


class TestCrossNearDup:
    def test_bipartite_subset_of_self_join(self, spark):
        """Splitting the corpus and running the bipartite detector must
        find exactly the self-join pairs that straddle the split."""
        from kenshin_spark.dedup import embedding_neardup_pairs
        from kenshin_spark.dedup.embedding import cross_neardup_pairs
        from kenshin_spark.io import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        left = emb.where("vec_id % 2 = 0")
        right = emb.where("vec_id % 2 = 1")
        full = {
            (min(r["vec_a"], r["vec_b"]), max(r["vec_a"], r["vec_b"])): r["cosine"]
            for r in embedding_neardup_pairs(emb, threshold=0.4).collect()
        }
        straddling = {k: v for k, v in full.items() if (k[0] + k[1]) % 2 == 1}
        got = {
            (min(r["left_id"], r["right_id"]), max(r["left_id"], r["right_id"])): r["cosine"]
            for r in cross_neardup_pairs(left, right, threshold=0.4).collect()
        }
        assert got == straddling


class TestGlobTargets:
    def test_glob_to_regex_node_semantics(self):
        import re as _re

        from kenshin_spark.operators.maintenance import glob_to_regex

        r = glob_to_regex("sys.cpu.*")
        assert _re.match(r, "sys.cpu.user")
        assert not _re.match(r, "sys.cpu.core0.user")  # * stays in-node
        assert not _re.match(r, "sys.cpux.user")
        r = glob_to_regex("app.{web,api}.lat?ncy")
        assert _re.match(r, "app.web.latency")
        assert _re.match(r, "app.api.latency")
        assert not _re.match(r, "app.worker.latency")
        r = glob_to_regex("host[0-2].load")
        assert _re.match(r, "host1.load")
        assert not _re.match(r, "host9.load")

    def test_glob_wildcards_inside_alternation(self):
        """Graphite alternation branches may themselves contain globs:
        {web*,api?} must translate the inner * and ?, not escape them."""
        import re as _re

        from kenshin_spark.operators.maintenance import glob_to_regex

        r = glob_to_regex("app.{web*,api?}.latency")
        assert _re.match(r, "app.web01.latency")
        assert _re.match(r, "app.api1.latency")
        assert not _re.match(r, "app.api12.latency")  # ? is one char
        assert not _re.match(r, "app.worker.latency")

    def test_glob_unbalanced_braces_are_literals(self):
        """Unbalanced { or [ must not raise; they match literally."""
        import re as _re

        from kenshin_spark.operators.maintenance import glob_to_regex

        r = glob_to_regex("a{b.c")
        assert _re.match(r, "a{b.c")
        r = glob_to_regex("a[0.load")
        assert _re.match(r, "a[0.load")
        assert not _re.match(r, "a0.load")

    def test_glob_class_normalization_preserves_ranges(self):
        """Future-proofing against `re`'s set-op FutureWarnings must not
        rewrite class semantics: a range whose lower endpoint is '-'
        ('[--0]') stays a range, inner '[' is escaped (kills the
        nested-set warning, same matches), and genuinely ambiguous
        set-op classes ('[a--z]') degrade to literal brackets — what
        they will be once the warning becomes an error."""
        import re as _re
        import warnings as _warnings

        from kenshin_spark.operators.maintenance import glob_to_regex

        with _warnings.catch_warnings():
            _warnings.simplefilter("error", FutureWarning)
            r = glob_to_regex("v[--0]x")      # range '-'..'0'
            assert _re.match(r, "v.x") and _re.match(r, "v-x")
            assert not _re.match(r, "vax")
            r = glob_to_regex("s.[[ab].c")    # inner '[' literal member
            assert _re.match(r, "s.[.c") and _re.match(r, "s.a.c")
            r = glob_to_regex("x[a--z]")      # ambiguous → literal
            assert _re.match(r, "x[a--z]")
            assert not _re.match(r, "xb")

    def test_glob_class_preescaped_bracket_stays_escaped(self):
        """ADVICE r5: a class that already escapes '[' ('[\\[ab]') must
        not gain a second backslash — '\\\\[' would leave the inner '['
        bare, trip the nested-set probe, and silently degrade the whole
        class to literal text."""
        import re as _re
        import warnings as _warnings

        from kenshin_spark.operators.maintenance import glob_to_regex

        with _warnings.catch_warnings():
            _warnings.simplefilter("error", FutureWarning)
            r = glob_to_regex(r"s.[\[ab].c")
            assert _re.match(r, "s.[.c")
            assert _re.match(r, "s.a.c") and _re.match(r, "s.b.c")
            assert not _re.match(r, "s.z.c")

    def test_fetch_glob_resolves_and_grids(self, spark, tmp_path):
        from kenshin_spark.store import ParquetTieredStore

        schema = Schema.from_strings("s", ".*", "60s:1d", xff=1.0)
        store = ParquetTieredStore(spark, schema, str(tmp_path / "st"))
        store.upsert(0, spark.createDataFrame(
            [("sys.cpu.user", 60, 1.0), ("sys.cpu.sys", 120, 2.0),
             ("sys.cpu.core0.idle", 60, 3.0), ("web.req", 60, 4.0)],
            "metric string, ts long, value double"))
        grid = store.fetch_glob("sys.cpu.*", 0, 180, now=180)
        got = {r["metric"] for r in grid.collect()}
        assert got == {"sys.cpu.user", "sys.cpu.sys"}  # one-node star
        vals = {(r["metric"], r["ts"]): r["value"] for r in grid.collect()}
        assert vals[("sys.cpu.user", 60)] == 1.0
        assert vals[("sys.cpu.sys", 60)] is None  # grid NULL-fills


class TestRenderSelectionExtras:
    def grid(self, spark):
        return spark.createDataFrame(
            [("a", 0, 5.0), ("a", 60, 5.0), ("a", 120, 7.0),
             ("b", 0, 1.0), ("b", 60, None), ("b", 120, 2.0)],
            "metric string, ts long, value double",
        )

    def test_delay_changed(self, spark):
        from kenshin_spark.functions.render import changed, delay

        g = self.grid(spark)
        d = {(r["metric"], r["ts"]): r["value"]
             for r in delay(g, 1).collect()}
        assert d[("a", 0)] is None and d[("a", 60)] == 5.0
        assert d[("b", 120)] is None  # delayed NULL propagates
        c = {(r["metric"], r["ts"]): r["value"]
             for r in changed(g).collect()}
        assert c[("a", 0)] == 0.0      # first slot
        assert c[("a", 60)] == 0.0     # unchanged
        assert c[("a", 120)] == 1.0    # changed
        assert c[("b", 60)] == 1.0     # value -> NULL counts as change

    def test_count_series_and_selection(self, spark):
        from kenshin_spark.functions.render import (
            count_series,
            maximum_below,
            minimum_above,
        )

        g = self.grid(spark)
        n = {r["ts"]: r["value"] for r in count_series(g).collect()}
        assert n[0] == 2.0 and n[60] == 1.0 and n[120] == 2.0
        assert {r["metric"] for r in minimum_above(g, 2.0).collect()} == {"a"}
        assert {r["metric"] for r in maximum_below(g, 6.0).collect()} == {"b"}


class TestPqRerank:
    def test_rerank_beats_raw_pq_recall(self, spark):
        """Exact re-ranking of a PQ candidate pool must recall at least
        as much of the exact top-k as raw PQ, and its cosines are the
        TRUE cosines (not ADC approximations)."""
        from kenshin_spark.io import load_table
        from kenshin_spark.similarity import brute_force_topk
        from kenshin_spark.similarity.pq import pq_rerank_topk, pq_topk

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        q = emb.where("vec_id < 5")
        exact = brute_force_topk(emb, q, k=5).collect()
        exact_map = {(r["query_id"], r["neighbor_id"]): r["cosine"]
                     for r in exact}

        def hits(rows):
            return sum(1 for r in rows
                       if (r["query_id"], r["neighbor_id"]) in exact_map)

        raw = pq_topk(emb, q, k=5).collect()
        rer = pq_rerank_topk(emb, q, k=5, candidates=100).collect()
        assert len(rer) == 25
        assert hits(rer) >= hits(raw)
        assert hits(rer) >= 20  # >= 80% of the exact top-5 recovered
        # re-ranked cosines are exact, not ADC scores
        for r in rer:
            key = (r["query_id"], r["neighbor_id"])
            if key in exact_map:
                assert r["cosine"] == exact_map[key]


class TestRenderChain:
    def test_chain_composes_left_to_right(self, spark):
        from kenshin_spark.functions.render import (
            apply_chain,
            moving_average,
            scale,
        )

        g = spark.createDataFrame(
            [("a", 0, 1.0), ("a", 60, 2.0), ("a", 120, 3.0)],
            "metric string, ts long, value double",
        )
        chained = apply_chain(g, [("movingAverage", 2), ("scale", 10.0)])
        manual = scale(moving_average(g, 2), 10.0)
        assert sorted(map(tuple, chained.collect())) == sorted(
            map(tuple, manual.collect())
        )
        import pytest as _pytest

        with _pytest.raises(KeyError):
            apply_chain(g, ["noSuchFunction"])

    def test_registry_entries_all_runnable(self, spark):
        """Every registry function accepts a grid (plus defaults or one
        obvious scalar) — the serving layer can trust the table."""
        from kenshin_spark.functions.render import RENDER_REGISTRY, apply_chain

        g = spark.createDataFrame(
            [("a.x", 0, 1.0), ("a.x", 60, 4.0), ("b.y", 0, 2.0),
             ("b.y", 60, 8.0)],
            "metric string, ts long, value double",
        )
        needs_arg = {
            "alias": ("z",), "aliasByNode": (0,), "delay": (1,),
            "exponentialMovingAverage": (0.3,), "groupByNode": (0,),
            "highestAverage": (1,), "logarithm": (10.0,),
            "maximumBelow": (100.0,), "minimumAbove": (0.0,),
            "movingAverage": (2,), "movingMedian": (2,),
            "movingStdDev": (2,), "nPercentile": (50.0,),
            "offset": (1.0,), "removeAbovePercentile": (95.0,),
            "scale": (2.0,), "sortByMaxima": (1,), "summarize": (120,),
            "timeShift": (60,),
            "aliasSub": ("^a", "A"), "averageAbove": (0.0,),
            "averageBelow": (100.0,), "currentAbove": (0.0,),
            "currentBelow": (100.0,), "limit": (1,), "mostDeviant": (1,),
            "scaleToSeconds": (1, 60), "timeSlice": (0, 60),
            "removeAboveValue": (100.0,), "removeBelowValue": (0.0,),
            "averageOutsidePercentile": (75.0,),
            "grep": ("^a",), "exclude": ("^b",),
            "highestCurrent": (1,), "highestMax": (1,),
            "lowestAverage": (1,), "lowestCurrent": (1,),
            "sortByTotal": (1,), "hitcount": (120, 60),
            "movingSum": (2,), "movingMin": (2,), "movingMax": (2,),
            "pow": (2.0,),
        }
        for name in RENDER_REGISTRY:
            args = needs_arg.get(name, ())
            out = apply_chain(g, [(name, *args)])
            out.collect()  # must execute
            assert set(out.columns) >= {"metric", "ts"}


class TestAnnRecall:
    """The registry's IVF and PQ shapes at top-10: sane recall (the
    quantizer is the k-means INIT state, so below a Lloyd-trained one but
    far above random), and the two-stage re-rank recovers most of it.
    Cross-engine bit-equality is covered by test_queries_oracle."""

    def _exact_sets(self, spark):
        from kenshin_spark.io import load_table
        from kenshin_spark.similarity import brute_force_topk

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        q = emb.where("vec_id < 5")
        eby = {}
        for r in brute_force_topk(emb, q, k=10).collect():
            eby.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return emb, q, eby

    def _hits(self, rows, eby):
        return sum(1 for r in rows if r["neighbor_id"] in eby[r["query_id"]])

    def test_ivf_recall(self, spark):
        from kenshin_spark.similarity import ivf_topk

        emb, q, eby = self._exact_sets(spark)
        rows = ivf_topk(emb, q, k=10, n_cells=8, n_probe=3).collect()
        assert len(rows) == 50
        assert self._hits(rows, eby) >= 20  # measured 23/50 (3 of 8 cells)

    def test_pq_and_rerank_recall(self, spark):
        from kenshin_spark.similarity.pq import pq_rerank_topk, pq_topk

        emb, q, eby = self._exact_sets(spark)
        raw = pq_topk(emb, q, k=10).collect()
        rer = pq_rerank_topk(emb, q, k=10, candidates=50).collect()
        assert len(raw) == 50 and len(rer) == 50
        assert self._hits(raw, eby) >= 16          # measured 20/50
        assert self._hits(rer, eby) >= 35          # measured 39/50
        assert self._hits(rer, eby) >= self._hits(raw, eby)


class TestRepetitionNullDocs:
    def test_null_text_rows_are_skipped(self, spark):
        """A NULL text cell must be skipped like the old explode plan did,
        not crash the Arrow kernel (ADVICE r3)."""
        from kenshin_spark.pipeline import repetition_stats

        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, None), (3, "x y")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
        assert set(rows) == {1, 3}
        assert rows[1]["n_grams"] == 3


class TestAtomicSidecarWrite:
    def test_overwrite_rename_never_unlinks(self, spark, tmp_path):
        """write_text_atomic must replace via a single overwrite-rename —
        after every rewrite the destination exists with the new content
        and no .tmp debris remains (ADVICE r3: the old delete-then-rename
        had a reader-visible missing-file window)."""
        from kenshin_spark.fs import HadoopFS

        base = str(tmp_path)
        fs = HadoopFS(spark, base)
        p = base + "/_latest"
        for i in range(5):
            fs.write_text_atomic(p, str(i))
            assert fs.read_text(p) == str(i)
            assert not fs.exists(p + ".tmp")

    def test_rename_overwrite_replaces_existing(self, spark, tmp_path):
        from kenshin_spark.fs import HadoopFS

        base = str(tmp_path)
        fs = HadoopFS(spark, base)
        fs.write_text_atomic(base + "/a", "new")
        fs.write_text_atomic(base + "/b", "old")
        fs.rename_overwrite(base + "/a", base + "/b")
        assert fs.read_text(base + "/b") == "new"
        assert not fs.exists(base + "/a")


class TestMetricCorrelationScope:
    """The scoped forms of metric_correlation (the scale contract: pair
    space bounded by the scope) must agree with the unrestricted oracle
    computed over the same scope."""

    def _grid(self, spark):
        from kenshin_spark.operators.align import last_write_wins
        from kenshin_spark.queries import _points

        return last_write_wins(
            _points(spark, "/root/testdata/sf0.001"), 60,
            arrival_col="arrival",
        )

    def test_targets_scope_matches_all_pairs_restriction(self, spark):
        from kenshin_spark.operators.correlate import metric_correlation

        grid = self._grid(spark)
        all_pairs = metric_correlation(grid).collect()
        assert all_pairs, "sf0.001 grid has no co-observed pairs?"
        # scope = the metrics of the first observed pair (+1 more if any)
        scope = sorted({all_pairs[0]["metric_a"], all_pairs[0]["metric_b"]}
                       | {all_pairs[-1]["metric_b"]})
        scoped = {
            (r["metric_a"], r["metric_b"]): (r["r"], r["n_slots"])
            for r in metric_correlation(grid, targets=scope).collect()
        }
        full = {
            (r["metric_a"], r["metric_b"]): (r["r"], r["n_slots"])
            for r in all_pairs
            if r["metric_a"] in scope and r["metric_b"] in scope
        }
        assert scoped == full and len(scoped) > 0

    def test_seeds_scope_is_one_vs_fleet(self, spark):
        from kenshin_spark.operators.correlate import metric_correlation

        grid = self._grid(spark)
        seed = grid.select("metric").distinct().orderBy("metric").first()[0]
        rows = metric_correlation(grid, seeds=[seed]).collect()
        assert len(rows) > 0
        assert all(r["metric_a"] == seed for r in rows)
        assert all(r["metric_b"] != seed for r in rows)

    def test_glob_scope(self, spark):
        from kenshin_spark.operators.correlate import metric_correlation

        grid = self._grid(spark)
        got = metric_correlation(grid, glob="*").collect()
        want = metric_correlation(grid).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestStarConnectedComponents:
    """The large-star/small-star CC iteration (Kiveris SoCC'14), the
    only distributed path: same labels as the driver union-find on
    random graphs, and it handles the adversarial chain graph in
    O(log n) rounds."""

    def _labels(self, spark, edges, algorithm, max_iter=25):
        from kenshin_spark.dedup.cluster import connected_components

        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        return {
            r["node"]: r["cluster_id"]
            for r in connected_components(
                df, max_iter=max_iter, algorithm=algorithm
            ).collect()
        }

    def test_star_matches_auto_on_random_graphs(self, spark):
        import random

        rng = random.Random(7)
        for trial in range(3):
            n = 40
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(45)
            ]
            edges = [(x, y) for x, y in edges if x != y]
            star = self._labels(spark, edges, "star")
            auto = self._labels(spark, edges, "auto")
            assert star == auto, f"trial {trial}"

    def test_star_converges_on_chain_in_log_rounds(self, spark):
        """A 200-node chain has diameter 199; star must finish within
        max_iter=10 (~log2 n) while labeling the whole chain to node 0."""
        edges = [(i, i + 1) for i in range(199)]
        star = self._labels(spark, edges, "star", max_iter=10)
        assert set(star.values()) == {0}
        assert len(star) == 200

    def test_unknown_algorithm_rejected(self, spark):
        import pytest as _pytest

        from kenshin_spark.dedup.cluster import connected_components

        df = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        with _pytest.raises(ValueError):
            connected_components(df, algorithm="bogus")

    def test_auto_driver_unionfind_matches_star(self, spark):
        """Under the gate, auto solves with driver union-find; the
        labelling (component-min representatives) must be identical to
        the distributed fixpoint on random graphs incl. self-loops."""
        import random

        rng = random.Random(13)
        for trial in range(3):
            n = 50
            edges = [
                (rng.randrange(n), rng.randrange(n)) for _ in range(60)
            ]
            auto = self._labels(spark, edges, "auto")
            star = self._labels(spark, edges, "star")
            assert auto == star, f"trial {trial}"

    def test_auto_over_gate_falls_back_to_distributed(self, spark, monkeypatch):
        from kenshin_spark.dedup import cluster as mod

        monkeypatch.setattr(mod, "DRIVER_CC_GATE", 0)
        got = self._labels(spark, [(1, 2), (2, 3), (7, 8)], "auto")
        assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    def test_auto_empty_pairs(self, spark):
        from kenshin_spark.dedup.cluster import connected_components

        df = spark.createDataFrame([], "doc_a long, doc_b long")
        assert connected_components(df).count() == 0


class TestSubstringDedup:
    """Exact substring-level dedup (Lee et al. fixed-window relaxation)."""

    def _docs(self, spark):
        boiler = "all rights reserved contact us at example dot com"  # 9 toks
        return spark.createDataFrame(
            [
                (1, f"alpha beta gamma {boiler} delta"),
                (2, f"unrelated words here {boiler} epsilon zeta"),
                (3, "totally unique text with no repeats at all whatsoever"),
                (4, "short doc"),
                (5, f"{boiler} {boiler}"),  # intra-doc repeat
            ],
            "doc_id long, text string",
        )

    def test_profile_flags_shared_boilerplate(self, spark):
        from kenshin_spark.dedup.substring import duplicated_ngram_profile

        out = {
            r["doc_id"]: r.asDict()
            for r in duplicated_ngram_profile(self._docs(spark), w=8).collect()
        }
        # docs 1, 2, 5 share the 9-token boilerplate → both its 8-gram
        # windows are corpus-duplicated; doc 3 has none; doc 4 is too short
        assert out[3]["dup_grams"] == 0
        assert out[4]["n_grams"] == 0 and out[4]["dup_frac"] is None
        assert out[1]["dup_grams"] >= 2
        assert out[2]["dup_grams"] >= 2
        assert out[5]["dup_grams"] >= 2
        for d in (1, 2, 5):
            assert 0 < out[d]["dup_frac"] <= 1

    def test_intra_doc_repeat_counts(self, spark):
        from kenshin_spark.dedup.substring import duplicated_ngram_profile

        solo = spark.createDataFrame(
            [(1, "x y z w x y z w x y z w a b c")],  # "x y z w" cycles
            "doc_id long, text string",
        )
        out = duplicated_ngram_profile(solo, w=4).collect()[0]
        # window "x y z w" occurs at positions 0, 4, 8 → duplicated even
        # with a single document in the corpus
        assert out["dup_grams"] >= 3

    def test_top_grams_recovers_text(self, spark):
        from kenshin_spark.dedup.substring import top_duplicated_grams

        top = top_duplicated_grams(self._docs(spark), w=8, k=5).collect()
        assert top, "expected at least one duplicated gram"
        assert top[0]["occurrences"] >= top[-1]["occurrences"]
        assert any(
            r["gram_text"].startswith("all rights reserved") for r in top
        )

    def test_gram_count_arithmetic(self, spark):
        from kenshin_spark.dedup.substring import gram_hashes

        n = (
            gram_hashes(self._docs(spark), w=8)
            .groupBy("doc_id")
            .count()
            .collect()
        )
        counts = {r["doc_id"]: r["count"] for r in n}
        assert counts[1] == 13 - 8 + 1  # 13 tokens → 6 windows
        assert 4 not in counts  # 2 tokens < w → no rows


class TestQualityModel:
    def test_integer_score_and_threshold(self, spark):
        from kenshin_spark.functions.text import (
            QM_MIN_TOKENS,
            QM_THRESHOLD,
            quality_model_score,
        )

        good = " ".join(["the quick brown fox jumps over it and"] * 8)  # stopword-rich
        bad = " ".join(["#$%! 123 456 ???"] * 20)  # punct/digit-heavy
        df = spark.createDataFrame(
            [(1, good), (2, bad)], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r.asDict() for r in quality_model_score(df).collect()}
        g, b = rows[1], rows[2]
        assert g["keep"] and not b["keep"]
        assert g["score"] >= QM_THRESHOLD and g["n_tokens"] >= QM_MIN_TOKENS
        assert b["score"] < QM_THRESHOLD
        # exact feature arithmetic on the good doc: 8 tokens/rep × 8 reps
        assert g["n_tokens"] == 64
        # 'the', 'it', 'and' hit per repeat → 24 stopword hits
        assert g["n_stopwords"] == 24
        assert g["score"] == 30 * 24 + 2 * 64 - 5 * g["n_punct"] - 2 * g["n_digits"]

    def test_keep_monotone_in_stopwords(self, spark):
        from kenshin_spark.functions.text import quality_model_score

        base = "word " * 30
        df = spark.createDataFrame(
            [(1, base), (2, base + " the and of is it in to or a an")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r["score"] for r in quality_model_score(df).collect()}
        assert rows[2] > rows[1]


class TestRetentionCohorts:
    def test_cohort_matrix(self, spark):
        from kenshin_spark.queries import QUERIES
        import tempfile, os, datetime as dt
        import pandas as pd

        with tempfile.TemporaryDirectory() as d:
            wk = 604800
            t0 = dt.datetime(2024, 1, 8)  # mid-epoch-week anchor
            rows = [
                # user 1: weeks 0, 1, 3 ; user 2: week 0 only ; user 3: 1, 2
                (1, t0), (1, t0 + dt.timedelta(seconds=wk)),
                (1, t0 + dt.timedelta(seconds=3 * wk)),
                (2, t0 + dt.timedelta(hours=5)),
                (3, t0 + dt.timedelta(seconds=wk)),
                (3, t0 + dt.timedelta(seconds=2 * wk)),
            ]
            pd.DataFrame(
                {
                    "event_id": range(len(rows)),
                    "ts": [ts for _, ts in rows],
                    "user_id": [u for u, _ in rows],
                    "event_type": "x",
                    "value": 1.0,
                    "props": "{}",
                }
            ).to_parquet(os.path.join(d, "events.parquet"))
            out = QUERIES["q_retention_cohorts"].fn(spark, d).collect()
        m = {(r["cohort_week"] - min(x["cohort_week"] for x in out),
              r["week_offset"]): r["n_users"] for r in out}
        base = 0
        assert m[(base, 0)] == 2          # users 1 and 2 start week 0
        assert m[(base, 1)] == 1          # user 1 returns week 1
        assert m[(base, 3)] == 1          # user 1 returns week 3
        assert m[(base + 1, 0)] == 1      # user 3's cohort is week 1
        assert m[(base + 1, 1)] == 1      # user 3 active its week 1
        assert (base, 2) not in m


class TestPerceptualHash:
    def _with_pixels(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, pixels array<int>"
        )

    def test_band_packing_and_mean_threshold(self, spark):
        from kenshin_spark.multimodal.phash import ahash_bands

        # first 32 pixels bright (200), last 32 dark (10): mean = 105 →
        # bits 0..31 set, 32..63 clear → bands 0..3 = 255, bands 4..7 = 0
        df = self._with_pixels(spark, [(1, [200] * 32 + [10] * 32)])
        bands = ahash_bands(df).collect()[0]["bands"]
        assert bands == [255, 255, 255, 255, 0, 0, 0, 0]

    def test_neardup_hamming_exact(self, spark):
        from kenshin_spark.multimodal.phash import phash_neardup_pairs

        base = [200] * 32 + [10] * 32
        three_flips = list(base)
        for i in (0, 20, 40):  # flip bits 0, 20 (set→clear), 40 (clear→set)
            three_flips[i] = 210 - three_flips[i]
        far = [10] * 32 + [200] * 32  # all 64 bits differ
        df = self._with_pixels(
            spark, [(1, base), (2, list(base)), (3, three_flips), (4, far)]
        )
        got = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in phash_neardup_pairs(df, max_hamming=6).collect()
        }
        assert got[(1, 2)] == 0
        assert got[(1, 3)] == 3 and got[(2, 3)] == 3
        assert not any(4 in p for p in got)

    def test_pigeonhole_completeness(self, spark):
        """Any pair within hamming ≤ 6 MUST be found (bands are a complete
        candidate generator, not approximate): exhaustive check against a
        brute-force python hamming on a batch of random-ish patterns."""
        from kenshin_spark.multimodal.phash import ahash_bands, phash_neardup_pairs
        import hashlib

        def pix(seed):
            h = hashlib.md5(str(seed).encode()).hexdigest()
            return [
                int(hashlib.md5(f"{h}|{i}".encode()).hexdigest()[:2], 16)
                for i in range(64)
            ]

        rows = [(i, pix(i // 3)) for i in range(12)]  # triplets of equals
        df = self._with_pixels(spark, rows)
        sigs = {
            r["doc_id"]: r["bands"] for r in ahash_bands(df).collect()
        }

        def ham(a, b):
            return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

        want = {
            (i, j)
            for i in sigs
            for j in sigs
            if i < j and ham(sigs[i], sigs[j]) <= 6
        }
        got = {
            (r["doc_a"], r["doc_b"])
            for r in phash_neardup_pairs(df, max_hamming=6).collect()
        }
        assert got == want and len(want) >= 12  # 4 triplets → ≥12 pairs

    def test_perturbation_stays_near(self, spark):
        from kenshin_spark.multimodal.phash import (
            ahash_bands,
            fake_pixels,
            perturb_pixels,
        )
        from pyspark.sql import functions as F

        docs = spark.createDataFrame(
            [(1, b"hello world payload")], "doc_id long, payload binary"
        )
        base = fake_pixels(docs)
        pert = perturb_pixels(base)
        a = ahash_bands(base).collect()[0]["bands"]
        b = ahash_bands(pert).collect()[0]["bands"]
        d = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
        assert d <= 6  # small pixel bumps → small fingerprint distance


class TestInterpolate:
    def _grid(self, spark, vals, step=60):
        rows = [("m", i * step, v) for i, v in enumerate(vals)]
        return spark.createDataFrame(rows, "metric string, ts long, value double")

    def test_interior_gap_linear(self, spark):
        from kenshin_spark.functions.render import interpolate

        out = interpolate(self._grid(spark, [1.0, None, None, 4.0])).collect()
        got = {r["ts"]: r["value"] for r in out}
        assert got[0] == 1.0 and got[180] == 4.0
        assert got[60] == 2.0 and got[120] == 3.0

    def test_edges_stay_null(self, spark):
        from kenshin_spark.functions.render import interpolate

        out = interpolate(self._grid(spark, [None, 2.0, None, 6.0, None])).collect()
        got = {r["ts"]: r["value"] for r in out}
        assert got[0] is None and got[240] is None  # no neighbor on one side
        assert got[120] == 4.0

    def test_limit_refuses_long_gaps(self, spark):
        from kenshin_spark.functions.render import interpolate

        vals = [0.0, None, None, None, 8.0, None, 10.0]
        out = interpolate(self._grid(spark, vals), limit=2).collect()
        got = {r["ts"]: r["value"] for r in out}
        assert got[60] is None and got[120] is None and got[180] is None
        assert got[300] == 9.0  # 1-slot gap still fills

    def test_registered_in_render_chain(self, spark):
        from kenshin_spark.functions.render import RENDER_REGISTRY

        assert "interpolate" in RENDER_REGISTRY


class TestBigramCoherence:
    def test_repetition_scores_high_novel_low(self, spark):
        from kenshin_spark.pipeline import bigram_coherence

        docs = spark.createDataFrame(
            [
                (1, "a b a b a b a b a b"),   # one dominant transition
                (2, "a c b d a e b f a g"),   # transitions unique
                (3, "solo"),                  # < 2 tokens
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r.asDict() for r in bigram_coherence(docs).collect()}
        assert got[1]["mean_scaled_prob"] > got[2]["mean_scaled_prob"]
        assert got[3]["n_bigrams"] == 0 and got[3]["mean_scaled_prob"] is None
        assert got[1]["n_bigrams"] == 9

    def test_uniform_corpus_scores_scale(self, spark):
        from kenshin_spark.pipeline import bigram_coherence

        # every 'x' is followed by 'y' and every 'y' by 'x': P = 1
        docs = spark.createDataFrame(
            [(1, "x y x y x"), (2, "y x y x y")], "doc_id long, text string"
        )
        for r in bigram_coherence(docs).collect():
            assert r["mean_scaled_prob"] == 1_000_000.0


class TestContainment:
    def test_asymmetric_superset_detected(self, spark):
        from kenshin_spark.dedup.ngram import (
            containment_pairs,
            ngram_jaccard_pairs,
        )

        article = " ".join(f"w{i}" for i in range(30))
        page = article + " " + " ".join(f"c{i}" for i in range(90))
        docs = spark.createDataFrame(
            [(1, article), (2, page)], "doc_id long, text string"
        )
        cont = {
            (r["doc_a"], r["doc_b"]): r["containment"]
            for r in containment_pairs(docs, threshold=0.5).collect()
        }
        # article fully contained in page; page NOT contained in article
        assert cont[(1, 2)] >= 0.9
        assert (2, 1) not in cont
        # Jaccard at the same strength misses the pair (union dilution)
        jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
        assert not jac

    def test_max_df_prunes_stop_shingles(self, spark):
        from kenshin_spark.dedup.ngram import containment_pairs

        boiler = "the same three words"
        docs = spark.createDataFrame(
            [(i, f"{boiler} unique{i} tail{i} extra{i}") for i in range(6)],
            "doc_id long, text string",
        )
        loose = containment_pairs(docs, threshold=0.3).count()
        strict = containment_pairs(docs, threshold=0.3, max_df=2).count()
        assert strict < loose  # stop-shingle buckets removed

    def test_auto_max_df_is_inert_below_the_floor(self, spark):
        """The default guard (max(200, 1% of corpus)) must never bind
        on small corpora — verified driver-scale results stay
        byte-identical to the uncapped operator."""
        from kenshin_spark.dedup.ngram import containment_pairs

        docs = spark.createDataFrame(
            [(i, f"shared head words unique{i} tail{i}") for i in range(8)],
            "doc_id long, text string",
        )
        auto = sorted(
            (r["doc_a"], r["doc_b"])
            for r in containment_pairs(docs, threshold=0.3).collect()
        )
        uncapped = sorted(
            (r["doc_a"], r["doc_b"])
            for r in containment_pairs(
                docs, threshold=0.3, max_df=None
            ).collect()
        )
        assert auto == uncapped and auto  # identical, non-empty

    def test_auto_max_df_binds_and_logs_on_boilerplate(
        self, spark, caplog
    ):
        """VERDICT r10 item 4: with >200 docs sharing a boilerplate
        shingle the auto cap BINDS (its bucket alone would be N²
        candidate pairs) and says so in the log — never silent."""
        import logging

        from kenshin_spark.dedup.ngram import containment_pairs

        boiler = "all rights reserved worldwide"
        docs = spark.createDataFrame(
            [(i, f"{boiler} unique{i} tail{i}") for i in range(250)],
            "doc_id long, text string",
        )
        with caplog.at_level(logging.WARNING, "kenshin_spark.dedup.ngram"):
            pairs = containment_pairs(docs, threshold=0.9).count()
        assert pairs == 0  # pairs shared ONLY boilerplate shingles
        assert any("capped" in r.message for r in caplog.records)


class TestDuplicatedSpans:
    def test_span_recovers_full_region(self, spark):
        from kenshin_spark.dedup.substring import duplicated_spans

        region = " ".join(f"dup{i}" for i in range(12))  # 12-token block
        docs = spark.createDataFrame(
            [
                (1, f"a b c d e f {region} x y z w v u"),
                (2, f"p q r s t u v w {region}"),
            ],
            "doc_id long, text string",
        )
        spans = {
            r["doc_id"]: r.asDict()
            for r in duplicated_spans(docs, w=8).collect()
        }
        # 12-token duplicated region → 5 consecutive windows → 12 tokens
        assert spans[1]["n_windows"] == 5 and spans[1]["span_tokens"] == 12
        assert spans[1]["span_start"] == 6
        assert spans[2]["span_start"] == 8
        assert spans[2]["span_tokens"] == 12

    def test_disjoint_regions_make_two_spans(self, spark):
        from kenshin_spark.dedup.substring import duplicated_spans

        r1 = " ".join(f"a{i}" for i in range(8))
        r2 = " ".join(f"b{i}" for i in range(8))
        mid = " ".join(f"m{i}" for i in range(10))
        docs = spark.createDataFrame(
            [(1, f"{r1} {mid} {r2}"), (2, f"{r1} z0 z1 z2 {r2}")],
            "doc_id long, text string",
        )
        per_doc = {}
        for r in duplicated_spans(docs, w=8).collect():
            per_doc.setdefault(r["doc_id"], []).append(r)
        assert len(per_doc[1]) == 2  # two islands, not one merged span
        assert sorted(s["span_tokens"] for s in per_doc[1]) == [8, 8]


class TestRenderSelectionMore:
    def _grid(self, spark):
        rows = []
        for m, vals in {
            "flat": [5.0, 5.0, 5.0, 5.0],
            "spiky": [0.0, 20.0, 0.0, 20.0],
            "low": [1.0, 1.0, 1.0, None],
        }.items():
            rows += [(m, i * 60, v) for i, v in enumerate(vals)]
        return spark.createDataFrame(
            rows, "metric string, ts long, value double"
        )

    def test_average_above_below(self, spark):
        from kenshin_spark.functions.render import average_above, average_below

        g = self._grid(spark)
        assert {r["metric"] for r in average_above(g, 4.0).collect()} == {
            "flat", "spiky"
        }
        assert {r["metric"] for r in average_below(g, 4.0).collect()} == {"low"}

    def test_current_above_ignores_trailing_null(self, spark):
        from kenshin_spark.functions.render import current_above

        got = {r["metric"] for r in current_above(self._grid(spark), 0.5).collect()}
        # 'low' ends in NULL but its last non-NULL is 1.0 > 0.5
        assert got == {"flat", "spiky", "low"}

    def test_most_deviant_picks_spiky(self, spark):
        from kenshin_spark.functions.render import most_deviant

        got = {r["metric"] for r in most_deviant(self._grid(spark), 1).collect()}
        assert got == {"spiky"}

    def test_limit_alias_sub_time_slice(self, spark):
        from kenshin_spark.functions.render import (
            alias_sub,
            limit_series,
            time_slice,
        )

        g = self._grid(spark)
        assert {r["metric"] for r in limit_series(g, 2).collect()} == {
            "flat", "low"
        }  # first two in name order
        renamed = {r["metric"] for r in alias_sub(g, "^sp", "SP").collect()}
        assert "SPiky" in renamed
        sliced = time_slice(g, 60, 180).collect()
        vals = {(r["metric"], r["ts"]): r["value"] for r in sliced}
        assert vals[("flat", 0)] is None and vals[("flat", 60)] == 5.0
        assert len(sliced) == 12  # grid shape kept

    def test_scale_to_seconds(self, spark):
        from kenshin_spark.functions.render import scale_to_seconds

        got = scale_to_seconds(self._grid(spark), 1, 60).collect()
        v = {(r["metric"], r["ts"]): r["value"] for r in got}
        assert v[("flat", 0)] == pytest.approx(5.0 / 60.0)

    def test_registry_has_new_ops(self):
        from kenshin_spark.functions.render import RENDER_REGISTRY

        for name in ("aliasSub", "averageAbove", "currentBelow", "limit",
                     "mostDeviant", "scaleToSeconds", "timeSlice"):
            assert name in RENDER_REGISTRY


class TestSubstringMaterialize:
    """materialize_dir — the cluster-scale reuse mode: the gram stream
    checkpoints to parquet once and every consumer reads it back, so
    results are identical to the cached mode and the text source leaves
    the plan entirely (profile/spans) or appears exactly once (scrub)."""

    def _docs(self, spark):
        boiler = "all rights reserved contact us at example dot com"
        return spark.createDataFrame(
            [
                (1, f"alpha beta gamma {boiler} delta"),
                (2, f"unrelated words here {boiler} epsilon zeta"),
                (3, "totally unique text with no repeats at all whatsoever"),
                (4, "short doc"),
                (5, f"{boiler} {boiler}"),
            ],
            "doc_id long, text string",
        )

    def test_materialized_profile_matches_cached(self, spark, tmp_path):
        from kenshin_spark.dedup.substring import duplicated_ngram_profile

        docs = self._docs(spark)
        cached = sorted(
            map(tuple, duplicated_ngram_profile(docs, w=8).collect())
        )
        mat = sorted(
            map(
                tuple,
                duplicated_ngram_profile(
                    docs, w=8, materialize_dir=str(tmp_path / "g")
                ).collect(),
            )
        )
        assert mat == cached

    def test_materialized_spans_and_scrub_match_cached(
        self, spark, tmp_path
    ):
        from kenshin_spark.dedup.substring import (
            duplicated_spans,
            remove_duplicated_spans,
        )

        docs = self._docs(spark)
        for fn, sub in (
            (duplicated_spans, "s"),
            (remove_duplicated_spans, "r"),
        ):
            cached = sorted(map(tuple, fn(docs, w=8).collect()))
            mat = sorted(
                map(
                    tuple,
                    fn(
                        docs, w=8,
                        materialize_dir=str(tmp_path / sub),
                    ).collect(),
                )
            )
            assert mat == cached, fn.__name__

    def test_materialized_profile_plan_has_no_text_scan(
        self, spark, tmp_path
    ):
        """With materialize_dir the profile computes entirely from the
        hash checkpoint: the documents parquet appears ZERO times in the
        plan (it was scanned once, at write time), and the checkpoint is
        hash rows only — no text column ever hits disk."""
        from kenshin_spark.dedup.substring import duplicated_ngram_profile
        from kenshin_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        gdir = str(tmp_path / "grams")
        prof = duplicated_ngram_profile(
            docs, w=8, materialize_dir=gdir
        )
        plan = prof._sc._jvm.PythonSQLUtils.explainString(
            prof._jdf.queryExecution(), "formatted"
        )
        assert "documents.parquet" not in plan
        assert plan.count("Scan parquet") >= 1  # the checkpoint reads
        ck = spark.read.parquet(gdir)
        assert set(ck.columns) == {"doc_id", "n_grams", "pos", "gh"}
        # and the checkpointed stream agrees with the live one
        from kenshin_spark.dedup.substring import gram_stream

        live = gram_stream(docs, w=8)
        assert sorted(map(tuple, ck.collect())) == sorted(
            map(tuple, live.collect())
        )


class TestSubstringIncremental:
    def test_incremental_equals_full_profile_on_batch(self, spark):
        """The incremental path must agree exactly with the full-corpus
        profile restricted to batch docs: occurrences across corpus +
        batch are the same multiset either way."""
        from kenshin_spark.dedup.substring import (
            duplicated_ngram_profile,
            duplicated_profile_against_index,
            substring_gram_index,
        )

        boiler = " ".join(f"b{i}" for i in range(9))
        docs = spark.createDataFrame(
            [
                (10, f"batch doc one {boiler} tail a b"),     # batch
                (20, f"batch doc two only unique words here x y"),  # batch
                (1, f"corpus doc {boiler} something else k"),  # corpus
                (2, "corpus doc with its own distinct words z"),
            ],
            "doc_id long, text string",
        )
        new = docs.where("doc_id % 10 = 0")
        corpus = docs.where("doc_id % 10 <> 0")
        inc = {
            r["doc_id"]: (r["n_grams"], r["dup_grams"], r["dup_frac"])
            for r in duplicated_profile_against_index(
                new, substring_gram_index(corpus, w=8), w=8
            ).collect()
        }
        full = {
            r["doc_id"]: (r["n_grams"], r["dup_grams"], r["dup_frac"])
            for r in duplicated_ngram_profile(docs, w=8)
            .where("doc_id % 10 = 0")
            .collect()
        }
        assert inc == full
        assert inc[10][1] >= 2  # shares the boilerplate with corpus doc 1

    def test_intra_batch_repeats_count(self, spark):
        from kenshin_spark.dedup.substring import (
            duplicated_profile_against_index,
            substring_gram_index,
        )

        block = " ".join(f"r{i}" for i in range(8))
        new = spark.createDataFrame(
            [(10, f"{block} mid1 mid2 mid3 {block}")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [(1, "entirely unrelated corpus text with many words")],
            "doc_id long, text string",
        )
        out = duplicated_profile_against_index(
            new, substring_gram_index(corpus, w=8), w=8
        ).collect()[0]
        assert out["dup_grams"] >= 2  # the block repeats within the batch

    def test_incremental_materialize_dir_matches_cache(
        self, spark, tmp_path
    ):
        """Symmetry with the full-corpus path (VERDICT r5 nit): the
        incremental batch gram stream accepts materialize_dir and the
        parquet-checkpointed result is identical to the .cache()
        default."""
        from kenshin_spark.dedup.substring import (
            duplicated_profile_against_index,
            substring_gram_index,
        )

        block = " ".join(f"w{i}" for i in range(8))
        new = spark.createDataFrame(
            [(10, f"{block} tail one two"), (11, "all fresh words here")],
            "doc_id long, text string",
        )
        idx = substring_gram_index(
            spark.createDataFrame(
                [(1, f"lead {block} more text")], "doc_id long, text string"
            ),
            w=8,
        )
        cached = sorted(
            tuple(r) for r in duplicated_profile_against_index(
                new, idx, w=8
            ).collect()
        )
        mat = sorted(
            tuple(r) for r in duplicated_profile_against_index(
                new, idx, w=8, materialize_dir=str(tmp_path / "g")
            ).collect()
        )
        assert cached == mat
        import os
        assert any(
            f.endswith(".parquet") for f in os.listdir(tmp_path / "g")
        )


class TestTokenPagerank:
    def test_hub_token_ranks_highest(self, spark):
        from kenshin_spark.functions.graph import token_pagerank

        # 'hub' receives edges from many distinct tokens; spokes only
        # ever receive from 'hub' — hub must out-rank every spoke
        doc = " ".join(f"s{i} hub" for i in range(6)) + " "
        docs = spark.createDataFrame(
            [(1, doc * 3)], "doc_id long, text string"
        )
        ranks = {
            r["tok"]: r["pagerank"]
            for r in token_pagerank(docs, min_support=2, iters=3, k=50).collect()
        }
        assert ranks["hub"] == max(ranks.values())
        assert all(ranks["hub"] > v for t, v in ranks.items() if t != "hub")

    def test_integer_determinism_across_runs(self, spark):
        from kenshin_spark.functions.graph import token_pagerank

        docs = spark.createDataFrame(
            [(i, "a b c a b c b c a") for i in range(4)],
            "doc_id long, text string",
        )
        a = token_pagerank(docs, min_support=2, iters=3).collect()
        b = token_pagerank(
            docs.repartition(7), min_support=2, iters=3
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestSubstringScrub:
    def test_scrub_removes_exactly_the_boilerplate(self, spark):
        from kenshin_spark.dedup.substring import remove_duplicated_spans

        boiler = " ".join(f"b{i}" for i in range(10))  # 10-token block
        docs = spark.createDataFrame(
            [
                (1, f"u1 u2 u3 {boiler} v1 v2 v3"),
                (2, f"w1 w2 {boiler} w3 w4 w5 w6"),
                (3, "an entirely original document with no duplication"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r.asDict()
               for r in remove_duplicated_spans(docs, w=8).collect()}
        # the 10 boilerplate tokens vanish from both docs, rest survives
        assert out[1]["removed_tokens"] == 10
        assert out[1]["kept_tokens"] == 6
        assert out[2]["removed_tokens"] == 10
        assert out[3]["removed_tokens"] == 0
        import hashlib
        assert out[1]["clean_md5"] == hashlib.md5(
            b"u1 u2 u3 v1 v2 v3").hexdigest()

    def test_scrub_then_profile_is_clean(self, spark):
        """After scrubbing, re-profiling finds no duplicated windows —
        the detect -> remove loop converges in one pass on this input."""
        from kenshin_spark.dedup.substring import (
            duplicated_ngram_profile,
            remove_duplicated_spans,
        )
        from pyspark.sql import functions as F

        boiler = " ".join(f"b{i}" for i in range(12))
        docs = spark.createDataFrame(
            [(i, f"lead{i} x{i} y{i} {boiler} tail{i} z{i}") for i in range(4)],
            "doc_id long, text string",
        )
        # rebuild the scrubbed text the same way the operator does
        toks = F.split(F.trim(F.col("text")), r"\s+")
        scrub = remove_duplicated_spans(docs, w=8)
        assert scrub.where(F.col("removed_tokens") != 12).count() == 0


class TestRenderValueFilters:
    def _grid(self, spark):
        rows = []
        for m, vals in {
            "mid1": [10.0, 11.0], "mid2": [10.5, 11.5],
            "low": [0.0, 1.0], "high": [99.0, 100.0],
        }.items():
            rows += [(m, i * 60, v) for i, v in enumerate(vals)]
        return spark.createDataFrame(
            rows, "metric string, ts long, value double"
        )

    def test_remove_above_below_value(self, spark):
        from kenshin_spark.functions.render import (
            remove_above_value,
            remove_below_value,
        )

        g = self._grid(spark)
        above = {(r["metric"], r["ts"]): r["value"]
                 for r in remove_above_value(g, 50.0).collect()}
        assert above[("high", 0)] is None and above[("mid1", 0)] == 10.0
        assert len(above) == 8  # grid shape kept
        below = {(r["metric"], r["ts"]): r["value"]
                 for r in remove_below_value(g, 5.0).collect()}
        assert below[("low", 0)] is None and below[("high", 0)] == 99.0

    def test_average_outside_percentile_keeps_outliers(self, spark):
        from kenshin_spark.functions.render import average_outside_percentile

        got = {
            r["metric"]
            for r in average_outside_percentile(self._grid(spark), 75.0).collect()
        }
        assert got == {"low", "high"}

    def test_registry_wired(self):
        from kenshin_spark.functions.render import RENDER_REGISTRY

        for n in ("removeAboveValue", "removeBelowValue",
                  "averageOutsidePercentile"):
            assert n in RENDER_REGISTRY


class TestTargetParser:
    def test_nested_calls_compose_inside_out(self):
        from kenshin_spark.functions.targets import parse_target

        glob, chain = parse_target(
            "scale(movingAverage(sys.cpu.*, 5), 2)"
        )
        assert glob == "sys.cpu.*"
        assert chain == [("movingAverage", 5), ("scale", 2.0)]

    def test_bare_series_and_string_args(self):
        from kenshin_spark.functions.targets import parse_target

        assert parse_target("sys.cpu.user") == ("sys.cpu.user", [])
        g, c = parse_target("alias(sys.mem, 'memory')")
        assert g == "sys.mem" and c == [("alias", "memory")]

    def test_globs_survive(self):
        from kenshin_spark.functions.targets import parse_target

        g, c = parse_target("sumSeries(sys.{cpu,mem}.[su]*)")
        assert g == "sys.{cpu,mem}.[su]*" and c == [("sumSeries",)]

    def test_errors_are_syntax_errors(self):
        import pytest as _pytest

        from kenshin_spark.functions.targets import (
            TargetSyntaxError,
            parse_target,
        )

        for bad in ("noSuchFn(a.b)", "scale(a.b", "scale(a.b,)",
                    "alias(a.b, 'x)", "", "bad name()"):
            with _pytest.raises(TargetSyntaxError):
                parse_target(bad)

    def test_end_to_end_with_apply_chain(self, spark):
        from kenshin_spark.functions.render import apply_chain
        from kenshin_spark.functions.targets import parse_target

        g = spark.createDataFrame(
            [("sys.cpu", 0, 2.0), ("sys.cpu", 60, 4.0)],
            "metric string, ts long, value double",
        )
        glob, chain = parse_target("scale(delay(sys.cpu, 1), 10)")
        assert glob == "sys.cpu"
        out = {r["ts"]: r["value"] for r in apply_chain(g, chain).collect()}
        assert out[0] is None and out[60] == 20.0


class TestCliRender:
    def test_render_verb_parses_and_applies_chain(self, spark, tmp_path, capsys):
        from kenshin_spark import cli

        root = str(tmp_path / "st")
        store = ParquetTieredStore(
            spark,
            Schema.from_strings("cli", ".*", "60s:1d,300s:7d,3600s:90d",
                                xff=20.0),
            root,
        )
        now = 199_980  # 60-aligned; store rows are ingest-aligned slots
        store.upsert(
            0,
            spark.createDataFrame(
                [("sys.cpu", now - 120, 3.0), ("sys.cpu", now - 60, 5.0),
                 ("sys.mem", now - 60, 7.0)],
                ["metric", "ts", "value"],
            ),
        )
        cli.main([
            "--root", root, "--cpus", "2", "render",
            "--target", "scale(sys.cpu, 2)",
            "--from", str(now - 180), "--until", str(now),
            "--now", str(now),
        ])
        lines = [l.split("\t") for l in
                 capsys.readouterr().out.strip().splitlines()]
        vals = [v for m, _, v in lines if m == "sys.cpu"]
        # LWW-aligned grid slots carry the scaled values (3→6, 5→10)
        assert "6.0" in vals and "10.0" in vals
        assert all(m == "sys.cpu" for m, _, _ in lines)  # glob resolved


class TestRenderCombinators2:
    """Semantics for the round-4b combinator batch: diff/max/min/range/
    stddev series, moving sum/min/max, hitcount, grep/exclude, and the
    current/total selections."""

    def _grid(self, spark):
        rows = [
            ("a", 0, 10.0), ("a", 60, 20.0), ("a", 120, None),
            ("b", 0, 1.0), ("b", 60, 2.0), ("b", 120, None),
            ("c", 0, 4.0), ("c", 60, None), ("c", 120, None),
        ]
        return spark.createDataFrame(
            rows, "metric string, ts long, value double"
        )

    def _by_ts(self, df):
        return {r["ts"]: r["value"] for r in df.collect()}

    def test_diff_series_first_minus_rest(self, spark):
        from kenshin_spark.functions.render import diff_series

        got = self._by_ts(diff_series(self._grid(spark)))
        assert got[0] == 10.0 - 1.0 - 4.0
        assert got[60] == 20.0 - 2.0
        assert got[120] is None  # all-NULL slot stays NULL

    def test_max_min_range_stddev_series(self, spark):
        from kenshin_spark.functions.render import (
            max_series, min_series, range_of_series, stddev_series,
        )

        g = self._grid(spark)
        assert self._by_ts(max_series(g))[0] == 10.0
        assert self._by_ts(min_series(g))[0] == 1.0
        assert self._by_ts(range_of_series(g))[0] == 9.0
        # population stddev of {10, 1, 4}
        import statistics
        assert abs(
            self._by_ts(stddev_series(g))[0]
            - statistics.pstdev([10.0, 1.0, 4.0])
        ) < 1e-12

    def test_moving_sum_min_max(self, spark):
        from kenshin_spark.functions.render import (
            moving_max, moving_min, moving_sum,
        )

        g = self._grid(spark).where("metric = 'a'")
        s = {r["ts"]: r["value"] for r in moving_sum(g, 2).collect()}
        assert s[0] == 10.0 and s[60] == 30.0 and s[120] == 20.0
        assert {r["ts"]: r["value"] for r in moving_min(g, 2).collect()}[60] == 10.0
        assert {r["ts"]: r["value"] for r in moving_max(g, 2).collect()}[60] == 20.0

    def test_hitcount_integrates_rate_over_buckets(self, spark):
        from kenshin_spark.functions.render import hitcount

        g = self._grid(spark).where("metric = 'a'")
        got = {r["ts"]: r["value"] for r in hitcount(g, 120, 60).collect()}
        # bucket [0,120): (10 + 20) * 60 s; bucket [120,240): all NULL
        assert got[0] == 1800.0
        assert got[120] is None

    def test_grep_exclude(self, spark):
        from kenshin_spark.functions.render import exclude_series, grep_series

        g = self._grid(spark)
        assert {r["metric"] for r in grep_series(g, "^[ab]$").collect()} == {"a", "b"}
        assert {r["metric"] for r in exclude_series(g, "^a$").collect()} == {"b", "c"}

    def test_current_and_total_selections(self, spark):
        from kenshin_spark.functions.render import (
            highest_current, lowest_average, lowest_current, sort_by_total,
        )

        g = self._grid(spark)
        # last non-NULL: a=20, b=2, c=4
        assert {r["metric"] for r in highest_current(g, 1).collect()} == {"a"}
        assert {r["metric"] for r in lowest_current(g, 1).collect()} == {"b"}
        # means: a=15, b=1.5, c=4
        assert {r["metric"] for r in lowest_average(g, 1).collect()} == {"b"}
        # totals: a=30, b=3, c=4
        assert {r["metric"] for r in sort_by_total(g, 2).collect()} == {"a", "c"}


class TestIncrementalEmbeddingIndex:
    """hyperplane_band_index + cross_neardup_against_index — the vector
    analog of the incremental MinHash index."""

    def _emb(self, spark):
        from kenshin_spark.io import load_table

        return load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def test_incremental_subset_of_exact_with_exact_cosines(self, spark):
        """Every pair the index path reports must appear in the exact
        bipartite join with the SAME cosine (LSH may miss — recall —
        but must never invent or mis-score a pair)."""
        from kenshin_spark.dedup.embedding import (
            cross_neardup_against_index,
            cross_neardup_pairs,
            hyperplane_band_index,
        )

        emb = self._emb(spark)
        new = emb.where("vec_id % 10 = 0")
        corpus = emb.where("vec_id % 10 <> 0")
        inc = {
            (r["corpus_id"], r["new_id"]): r["cosine"]
            for r in cross_neardup_against_index(
                new, corpus, hyperplane_band_index(corpus), threshold=0.4
            ).collect()
        }
        exact = {
            (r["left_id"], r["right_id"]): r["cosine"]
            for r in cross_neardup_pairs(
                corpus, new, threshold=0.4
            ).collect()
        }
        assert set(inc) <= set(exact)
        for k, c in inc.items():
            assert c == exact[k]
        # recall on the planted near-dups: the OR-amplified 16x4 banding
        # recovers the large majority of true pairs
        if exact:
            assert len(inc) / len(exact) >= 0.8

    def test_index_roundtrips_through_parquet(self, spark, tmp_path):
        """The index is persistable: write, read back, use — signatures
        must agree because the hyperplanes are seeded."""
        from kenshin_spark.dedup.embedding import (
            cross_neardup_against_index,
            hyperplane_band_index,
        )

        emb = self._emb(spark)
        new = emb.where("vec_id % 10 = 0")
        corpus = emb.where("vec_id % 10 <> 0")
        p = str(tmp_path / "emb_index")
        hyperplane_band_index(corpus).write.parquet(p)
        live = cross_neardup_against_index(
            new, corpus, hyperplane_band_index(corpus), threshold=0.4
        ).collect()
        persisted = cross_neardup_against_index(
            new, corpus, spark.read.parquet(p), threshold=0.4
        ).collect()
        assert sorted(map(tuple, live)) == sorted(map(tuple, persisted))

    def test_index_grows_incrementally(self, spark):
        """Appending the new batch's band rows = re-indexing the union:
        the index update is a pure insert, never a rebuild."""
        from kenshin_spark.dedup.embedding import hyperplane_band_index

        emb = self._emb(spark)
        a = emb.where("vec_id < 250")
        b = emb.where("vec_id >= 250")
        union_ix = hyperplane_band_index(emb)
        appended = hyperplane_band_index(a).unionByName(
            hyperplane_band_index(b)
        )
        assert sorted(
            map(tuple, union_ix.collect())
        ) == sorted(map(tuple, appended.collect()))


class TestKenshinHsExport:
    """export_kenshin_hs — the reverse migration: spark tiers → .hs
    files the import connector (and the reference) can read back."""

    def _tiers(self, spark):
        # tier grids are slot-aligned (as the store produces them); the
        # exporter re-aligns defensively but the fixture mirrors reality
        t0 = spark.createDataFrame(
            [("sys.cpu", 960, 1.5), ("sys.cpu", 1020, 2.5),
             ("sys.mem", 960, 7.0), ("sys.mem", 1020, None),
             ("web.req", 1020, 9.0)],
            "metric string, ts long, value double",
        )
        t1 = spark.createDataFrame(
            [("sys.cpu", 900, 2.0), ("sys.mem", 900, 7.0),
             ("web.req", 900, 9.0)],
            "metric string, ts long, value double",
        )
        return [t0, t1], [(60, 60), (300, 24)]

    def test_roundtrip_through_import_connector(self, spark, tmp_path):
        from kenshin_spark.sources.kenshin_hs import (
            export_kenshin_hs,
            read_kenshin_headers,
            read_kenshin_points,
        )

        tiers, archives = self._tiers(spark)
        out = str(tmp_path / "hs")
        manifest = export_kenshin_hs(
            tiers, archives, out, n_files=2, agg_method="sum", xff=1.0
        ).collect()
        assert sum(r["n_metrics"] for r in manifest) == 3
        assert all(r["n_bytes"] > 0 for r in manifest)

        back = read_kenshin_points(spark, out + "/*.hs")
        got = {
            (r["metric"], r["archive_idx"], r["ts"]): r["value"]
            for r in back.collect()
        }
        assert got[("sys.cpu", 0, 960)] == 1.5
        assert got[("sys.cpu", 0, 1020)] == 2.5
        assert got[("sys.mem", 0, 1020)] is None  # NULL → sentinel → NULL
        assert got[("web.req", 1, 900)] == 9.0
        # the N-metrics-per-file layout materializes co-located NULL
        # slots (a slot written for one metric carries the sentinel for
        # its file-mates) — faithful to the format; every non-null input
        # survives exactly
        assert sum(1 for v in got.values() if v is not None) == 7

        hdr = read_kenshin_headers(spark, out + "/*.hs").collect()
        assert all(r["agg_method"] == "sum" for r in hdr)
        assert all(r["archive_count"] == 2 for r in hdr)

    def test_placement_matches_reference_sharding(self, spark, tmp_path):
        """Metric→file grouping must be the fnv1a instance shard — the
        layout a kenshin fleet itself would have produced."""
        from kenshin_spark.functions.hashing import fnv1a_32
        from kenshin_spark.sources.kenshin_hs import (
            export_kenshin_hs,
            read_kenshin_headers,
        )

        tiers, archives = self._tiers(spark)
        out = str(tmp_path / "hs")
        export_kenshin_hs(tiers, archives, out, n_files=2).collect()
        for r in read_kenshin_headers(spark, out + "/*.hs").collect():
            fid = int(r["path"].rsplit("_", 1)[1].split(".")[0])
            for m in r["metrics"]:
                if m:  # Python % on the signed digest IS floor-mod
                    assert fnv1a_32(m) % 2 == fid


class TestWhisperExport:
    def test_roundtrip_and_tree_layout(self, spark, tmp_path):
        from kenshin_spark.sources.whisper import (
            export_whisper,
            read_whisper_headers,
            read_whisper_points,
        )

        t0 = spark.createDataFrame(
            [("sys.cpu.user", 960, 1.5), ("sys.cpu.user", 1020, 2.5),
             ("web.req", 1020, 9.0)],
            "metric string, ts long, value double",
        )
        t1 = spark.createDataFrame(
            [("sys.cpu.user", 900, 2.0)],
            "metric string, ts long, value double",
        )
        out = str(tmp_path / "wsp")
        manifest = {
            r["metric"]: r["path"]
            for r in export_whisper(
                [t0, t1], [(60, 60), (300, 24)], out, agg_method="max"
            ).collect()
        }
        # dotted names become the graphite tree
        assert manifest["sys.cpu.user"].endswith("sys/cpu/user.wsp")
        assert manifest["web.req"].endswith("web/req.wsp")

        back = read_whisper_points(spark, out + "/*/*", base=out)
        got = {
            (r["metric"], r["archive_idx"], r["ts"]): r["value"]
            for r in back.unionByName(
                read_whisper_points(spark, out + "/*/*/*", base=out)
            ).collect()
        }
        assert got[("sys.cpu.user", 0, 960)] == 1.5
        assert got[("sys.cpu.user", 0, 1020)] == 2.5
        assert got[("sys.cpu.user", 1, 900)] == 2.0
        assert got[("web.req", 0, 1020)] == 9.0
        assert len(got) == 4  # one file per metric: no co-located NULLs

        hdr = read_whisper_headers(
            spark, out + "/*/*/*", base=out
        ).collect()
        assert all(r["agg_method"] == "max" for r in hdr)


class TestCliExport:
    def test_export_verb_whisper_and_kenshin(self, spark, tmp_path, capsys):
        import json as _json

        from kenshin_spark import cli
        from kenshin_spark.config import Schema
        from kenshin_spark.store import ParquetTieredStore

        root = str(tmp_path / "st")
        schema = Schema.from_strings(
            "cli", ".*", "60s:1d,300s:7d", xff=20.0
        )
        store = ParquetTieredStore(spark, schema, root)
        store.upsert(
            0,
            spark.createDataFrame(
                [("sys.cpu", 960, 5.0), ("web.req", 1020, 7.0)],
                ["metric", "ts", "value"],
            ),
        )
        base = ["--root", root, "--cpus", "2",
                "--retentions", "60s:1d,300s:7d"]
        cli.main(base + ["export", "--dest", str(tmp_path / "wsp"),
                         "--format", "whisper"])
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["files"] == 2 and out["bytes"] > 0

        cli.main(base + ["export", "--dest", str(tmp_path / "hs"),
                         "--format", "kenshin", "--n-files", "2"])
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["files"] >= 1 and out["bytes"] > 0

        from kenshin_spark.sources.kenshin_hs import read_kenshin_points

        back = read_kenshin_points(spark, str(tmp_path / "hs") + "/*.hs")
        vals = {
            (r["metric"], r["ts"]): r["value"]
            for r in back.collect() if r["value"] is not None
        }
        assert vals == {("sys.cpu", 960): 5.0, ("web.req", 1020): 7.0}


class TestCorruptMigrationFiles:
    """skip_corrupt: a truncated file costs its own rows, never the
    100 TB migration run."""

    def test_hs_reader_skips_garbage(self, spark, tmp_path):
        from kenshin_spark.sources.kenshin_hs import read_kenshin_points

        good = str(tmp_path / "good.hs")
        write_kenshin_hs(
            good, ["m.a"], [(60, 4)], [[(960, [1.0]), (1020, [2.0])]]
        )
        (tmp_path / "bad.hs").write_bytes(b"definitely not a kenshin file")
        glob = str(tmp_path / "*.hs")
        got = read_kenshin_points(spark, glob, skip_corrupt=True).collect()
        assert {(r["metric"], r["ts"]) for r in got} == {
            ("m.a", 960), ("m.a", 1020),
        }
        import pytest as _pytest
        from pyspark.errors.exceptions.captured import PythonException

        with _pytest.raises(PythonException):  # strict mode fails loud
            read_kenshin_points(spark, glob).collect()

    def test_wsp_reader_skips_garbage(self, spark, tmp_path):
        from kenshin_spark.sources.whisper import read_whisper_points

        good = str(tmp_path / "sys")
        import os
        os.makedirs(good)
        write_whisper(
            os.path.join(good, "cpu.wsp"), [(60, 4)], [[(960, 1.5)]]
        )
        with open(os.path.join(good, "mem.wsp"), "wb") as f:
            f.write(b"xx")  # truncated header
        got = read_whisper_points(
            spark, str(tmp_path / "sys" / "*.wsp"),
            base=str(tmp_path), skip_corrupt=True,
        ).collect()
        assert [(r["metric"], r["ts"], r["value"]) for r in got] == [
            ("sys.cpu", 960, 1.5)
        ]


class TestRenderScalarExtras:
    def test_pow_sqrt_alias_by_metric(self, spark):
        from kenshin_spark.functions.render import (
            alias_by_metric, pow_series, square_root,
        )

        g = spark.createDataFrame(
            [("a.b.c", 0, 4.0), ("a.b.c", 60, -9.0)],
            "metric string, ts long, value double",
        )
        p = {r["ts"]: r["value"] for r in pow_series(g, 2.0).collect()}
        assert p[0] == 16.0 and p[60] == 81.0
        s = {r["ts"]: r["value"] for r in square_root(g).collect()}
        assert s[0] == 2.0 and s[60] is None  # negative → NULL
        assert {r["metric"] for r in alias_by_metric(g).collect()} == {"c"}


class TestAdviceR8Hardening:
    """Regression test for the round-8 ADVICE item on legacy-mor
    snapshot reads."""

    SCHEMA = Schema.from_strings("s", ".*", "60s:1d", xff=1.0)

    def test_version_read_keeps_legacy_rows_without_seq(
        self, spark, tmp_path
    ):
        """Files that physically lack _seq (a tier written before mor, or
        imported) read back as NULL under the explicit tier schema; a
        version-pinned read must keep them (they predate every stamp),
        and stamped rows must still win LWW over them (ADVICE r8
        medium)."""
        from kenshin_spark.store import ParquetTieredStore

        root = str(tmp_path / "st")
        # legacy rows: written WITHOUT _seq straight into the tier
        # layout, outside the manifest log — migrate adopts them
        legacy = spark.createDataFrame(
            [("m", 60, 1.0, 0), ("n", 60, 5.0, 0)],
            "metric string, ts long, value double, day long",
        )
        legacy.write.partitionBy("day").parquet(f"{root}/tier=0")
        store = ParquetTieredStore.migrate(spark, self.SCHEMA, root)
        df = spark.createDataFrame(
            [("m", 60, 2.0)], "metric string, ts long, value double"
        )
        store.upsert(0, df)  # stamped seq=2, overwrites m@60
        snap = {
            (r["metric"], r["ts"]): r["value"]
            for r in store.read(0, version=store.commit.epoch()).collect()
        }
        # n@60 is a legacy row with a NULL stamp — still in the snapshot
        assert snap[("n", 60)] == 5.0
        # the stamped write still wins LWW over the legacy value
        assert snap[("m", 60)] == 2.0
