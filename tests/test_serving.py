"""S3 serving-layer integration: queries cross a real network boundary
(TCP wire protocol + HTTP JSON) into Spark-backed lookups."""

import json
import pickle
import socket
import struct
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from kenshin_spark.config import Schema
from kenshin_spark.serving import CacheQueryServer, HttpFetchServer, cache_query
from kenshin_spark.store import ParquetTieredStore

SCHEMA = Schema.from_strings(
    "s", ".*", "60s:1d,300s:7d", xff=1.0, agg_method="average"
)


@pytest.fixture()
def store(spark, tmp_path):
    st = ParquetTieredStore(spark, SCHEMA, str(tmp_path / "st"))
    st.overwrite(
        0,
        spark.createDataFrame(
            [("sys.cpu", 60, 1.0), ("sys.cpu", 120, 2.0), ("sys.mem", 60, 9.0)],
            ["metric", "ts", "value"],
        ),
    )
    return st


class TestCacheQueryServer:
    def test_wire_roundtrip_against_spark(self, spark, store):
        def lookup(metric):
            return [
                (r["ts"], r["value"])
                for r in store.read(0).where(f"metric = '{metric}'").collect()
            ]

        srv = CacheQueryServer(lookup)
        host, port = srv.start()
        try:
            got = cache_query(host, port, "sys.cpu")
            assert sorted(got) == [(60, 1.0), (120, 2.0)]
            assert cache_query(host, port, "ghost") == []
        finally:
            srv.stop()

    def test_malicious_request_dropped_server_survives(self, spark):
        srv = CacheQueryServer(lambda m: [(1, 1.0)])
        host, port = srv.start()
        try:
            class Evil:
                def __reduce__(self):
                    import os

                    return (os.system, ("echo pwned",))

            with socket.create_connection((host, port)) as s:
                payload = pickle.dumps(Evil())
                s.sendall(struct.pack("!L", len(payload)) + payload)
                # server refuses the global lookup and drops the conn
                assert s.recv(4) == b""
            # a well-formed request still works afterwards
            assert cache_query(host, port, "m") == [(1, 1.0)]
        finally:
            srv.stop()


class TestHttpFetchServer:
    def test_fetch_over_http(self, spark, store):
        def fetch_fn(metrics, frm, until, now):
            df = store.fetch(metrics, frm, until, now)
            return (
                []
                if df is None
                else [(r["metric"], r["ts"], r["value"]) for r in df.collect()]
            )

        srv = HttpFetchServer(fetch_fn, hot_fn=lambda m: [(5, 1.5)])
        host, port = srv.start()
        try:
            with urllib.request.urlopen(
                f"http://{host}:{port}/fetch?metric=sys.cpu&from=60&until=180&now=200"
            ) as resp:
                body = json.load(resp)
            rows = {(m, t): v for m, t, v in body["rows"]}
            assert rows[("sys.cpu", 60)] == 1.0
            assert rows[("sys.cpu", 120)] == 2.0

            with urllib.request.urlopen(
                f"http://{host}:{port}/hot?metric=x"
            ) as resp:
                assert json.load(resp)["datapoints"] == [[5, 1.5]]

            with pytest.raises(urllib.error.HTTPError):
                urllib.request.urlopen(f"http://{host}:{port}/fetch")
        finally:
            srv.stop()

    def test_engine_error_returns_500_not_dropped_connection(self, spark):
        """A non-client error raised by the wired fn (e.g. a Spark
        analysis failure during fetch/collect) must come back as an
        HTTP 500, not a dropped connection."""
        def boom(*a):
            raise RuntimeError("engine exploded")

        srv = HttpFetchServer(boom, render_fn=boom)
        host, port = srv.start()
        try:
            for path in (
                "/fetch?metric=m&from=0&until=1&now=1",
                "/render?target=x&from=0&until=1&now=1",
            ):
                with pytest.raises(urllib.error.HTTPError) as ei:
                    urllib.request.urlopen(f"http://{host}:{port}{path}")
                assert ei.value.code == 500
        finally:
            srv.stop()


class TestHttpRender:
    def test_render_target_over_http(self, spark, store):
        from kenshin_spark.serving import store_render_fn

        srv = HttpFetchServer(
            lambda *a: [], render_fn=store_render_fn(store)
        )
        host, port = srv.start()
        try:
            url = (
                f"http://{host}:{port}/render?"
                + urllib.parse.urlencode(
                    {"target": "scale(sys.*,2)", "from": 60,
                     "until": 180, "now": 200}
                )
            )
            with urllib.request.urlopen(url) as resp:
                body = json.load(resp)
            rows = {(m, t): v for m, t, v in body["rows"]}
            assert rows[("sys.cpu", 60)] == 2.0   # 1.0 scaled by 2
            assert rows[("sys.cpu", 120)] == 4.0  # 2.0 scaled by 2

            # no render_fn wired → 404 (the default server shape)
            bare = HttpFetchServer(lambda *a: [])
            h2, p2 = bare.start()
            try:
                with pytest.raises(urllib.error.HTTPError):
                    urllib.request.urlopen(
                        f"http://{h2}:{p2}/render?target=x&from=0&until=1&now=1"
                    )
            finally:
                bare.stop()
        finally:
            srv.stop()


class TestConcurrentServingDuringWrites:
    """The reference daemon answers cache queries WHILE the writer
    thread flushes (rurouni/protocols.py:65-84 against writer.py's
    writeForever loop). Spark analog: TCP cache queries and HTTP
    fetches keep landing — across a real network boundary, from many
    client threads — while ``StreamingIngest.process_batch`` commits
    micro-batches into the same mor store. Every response must be
    well-formed and value-correct for whatever prefix of batches it
    observed; nothing may error or hang."""

    def test_concurrent_queries_mid_process_batch(self, spark, tmp_path):
        import threading
        import urllib.request

        from kenshin_spark.config import SchemaSet
        from kenshin_spark.streaming import StreamingIngest

        schema = Schema.from_strings(
            "c", ".*", "60s:1d,300s:7d", xff=1.0, agg_method="max"
        )
        now = 86_400 * 10
        ing = StreamingIngest(
            spark,
            SchemaSet((schema,)),
            str(tmp_path / "root"),
            clock=lambda: now,
        )

        def batch_points(b: int):
            # batch b writes 8 slots per metric at disjoint, aligned ts;
            # value encodes (batch, slot) so any response is checkable
            rows = [
                (m, now - 7200 + 60 * (8 * b + j), float(100 * b + j), now)
                for m in ("srv.a", "srv.b")
                for j in range(8)
            ]
            return spark.createDataFrame(
                rows, "metric string, ts long, value double, arrival long"
            )

        expected = {}  # (metric, ts) -> value over ALL batches
        n_batches = 4
        for b in range(n_batches):
            for r in batch_points(b).collect():
                expected[(r["metric"], r["ts"])] = r["value"]

        ing.process_batch(batch_points(0), 0)  # store exists pre-serve
        store = ing.store_for(schema)

        def lookup(metric):
            return [
                (r["ts"], r["value"])
                for r in store.read(0).where(
                    F.col("metric") == metric
                ).collect()
            ]

        def fetch_fn(metrics, frm, until, now_):
            df = store.fetch(metrics, frm, until, now_)
            return (
                []
                if df is None
                else [
                    (r["metric"], r["ts"], r["value"]) for r in df.collect()
                ]
            )

        tcp = CacheQueryServer(lookup)
        http = HttpFetchServer(fetch_fn)
        th, tp = tcp.start()
        hh, hp = http.start()
        writer_done = threading.Event()
        errors: list = []
        responses: list = []
        lock = threading.Lock()

        def writer():
            try:
                for b in range(1, n_batches):
                    ing.process_batch(batch_points(b), b)
            except Exception as exc:  # pragma: no cover
                errors.append(("writer", exc))
            finally:
                writer_done.set()

        def tcp_client(metric):
            while True:
                stop = writer_done.is_set()
                try:
                    got = cache_query(th, tp, metric)
                    with lock:
                        responses.append(("tcp", metric, got))
                except Exception as exc:
                    errors.append(("tcp", exc))
                    return
                if stop:
                    return

        def http_client(metric):
            url = (
                f"http://{hh}:{hp}/fetch?metric={metric}"
                f"&from={now - 7200}&until={now}&now={now}"
            )
            while True:
                stop = writer_done.is_set()
                try:
                    with urllib.request.urlopen(url, timeout=60) as resp:
                        body = json.load(resp)
                    with lock:
                        responses.append(("http", metric, body["rows"]))
                except Exception as exc:
                    errors.append(("http", exc))
                    return
                if stop:
                    return

        threads = [threading.Thread(target=writer)]
        for m in ("srv.a", "srv.b"):
            threads += [
                threading.Thread(target=tcp_client, args=(m,)),
                threading.Thread(target=http_client, args=(m,)),
            ]
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not any(t.is_alive() for t in threads), "hung thread"
            assert not errors, errors

            # every mid-write response is value-correct for its keys
            n_checked = 0
            for kind, metric, rows in responses:
                if kind == "tcp":
                    for ts, v in rows:
                        assert expected[(metric, ts)] == v
                        n_checked += 1
                else:
                    for m, ts, v in rows:
                        if v is not None:  # fetch grid NULL-pads
                            assert expected[(m, ts)] == v
                            n_checked += 1
            assert n_checked > 0

            # post-write: both surfaces see ALL batches
            final = dict(cache_query(th, tp, "srv.a"))
            want = {
                ts: v for (m, ts), v in expected.items() if m == "srv.a"
            }
            assert final == want
            got_http = {
                (m, ts): v
                for m, ts, v in fetch_fn(["srv.b"], now - 7200, now, now)
                if v is not None
            }
            assert got_http == {
                (m, ts): v for (m, ts), v in expected.items() if m == "srv.b"
            }
        finally:
            tcp.stop()
            http.stop()


class TestServingUnderCommits:
    """Serving reads plan from the committed manifest, so compaction and
    expiry commits landing mid-read never tear a response: superseded
    files stay on disk until vacuum, and each scan reads exactly the
    snapshot it planned from."""

    def _mk(self, spark, tmp_path):
        st = ParquetTieredStore(spark, SCHEMA, str(tmp_path / "sl"))
        st.upsert(
            0,
            spark.createDataFrame(
                [("m.a", 60 * j, float(j)) for j in range(1, 9)],
                ["metric", "ts", "value"],
            ),
        )
        return st

    def test_expire_bumps_only_when_something_dropped(self, spark, tmp_path):
        st = self._mk(spark, tmp_path)
        e0 = st.commit.epoch()
        st.expire(now=120)  # retention 1d → nothing old enough
        assert st.commit.epoch() == e0  # an empty transaction commits nothing
        st.expire(now=86_400 * 400)  # everything expired
        assert st.commit.epoch() == e0 + 1  # every tier in one commit
        assert st.read(0).count() == 0

    def test_serving_fns_correct_under_compaction_fire(self, spark, tmp_path):
        """store_serving_fns answers correctly while per-day compactions
        retire the very files being served, in a tight loop."""
        import threading

        from kenshin_spark.serving import store_serving_fns

        st = self._mk(spark, tmp_path)
        for b in range(2, 5):  # fragment the mor log → compaction has work
            st.upsert(
                0,
                spark.createDataFrame(
                    [("m.a", 60 * j, float(j)) for j in range(1, 9)],
                    ["metric", "ts", "value"],
                ),
            )
        lookup, fetch_fn = store_serving_fns(st)
        want = {60 * j: float(j) for j in range(1, 9)}
        stop = threading.Event()
        errors = []

        def hammer():
            while not stop.is_set():
                try:
                    got = dict(lookup("m.a"))
                    assert got == want, f"torn read: {got}"
                except Exception as exc:  # noqa: BLE001
                    errors.append(exc)
                    return

        threads = [threading.Thread(target=hammer) for _ in range(2)]
        for t in threads:
            t.start()
        try:
            for _ in range(4):
                st.compact(0, days=[0])
        finally:
            stop.set()
            for t in threads:
                t.join(timeout=120)
        assert not errors, errors
        rows = fetch_fn(["m.a"], 0, 60 * 9, 60 * 9)
        assert {ts: v for _, ts, v in rows if v is not None} == want


class TestServingPool:
    @staticmethod
    def _store(spark, tmp_path, name):
        st = ParquetTieredStore(
            spark, SCHEMA, str(tmp_path / name)
        )
        st.upsert(
            0,
            spark.createDataFrame(
                [("m.p", 60, 1.0), ("m.p", 120, 2.0), ("m.q", 60, 3.0)],
                ["metric", "ts", "value"],
            ),
        )
        return st

    def test_lookup_and_fetch_run_no_spark_job(self, spark, tmp_path):
        """lookup and fetch_fn read the planned files with pyarrow on
        the driver: no Spark job runs on the calling thread."""
        from kenshin_spark.serving import store_serving_fns

        st = self._store(spark, tmp_path, "nojob")
        lookup, fetch_fn = store_serving_fns(st)
        sc = spark.sparkContext
        sc.setJobGroup("serving-no-job", "lookup and fetch")
        try:
            assert lookup("m.p") == [(60, 1.0), (120, 2.0)]
            rows = fetch_fn(["m.p", "m.q"], 60, 180, 180)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert rows == [
            ("m.p", 60, 1.0), ("m.p", 120, 2.0),
            ("m.q", 60, 3.0), ("m.q", 120, None),
        ]
        tracker = sc.statusTracker()
        assert list(tracker.getJobIdsForGroup("serving-no-job")) == []

    def test_render_chain_tags_and_resets_scheduler_pool(
        self, spark, tmp_path, monkeypatch
    ):
        """The render chain — the only Spark work a /render runs — is
        tagged with the serving pool while it runs, scans no parquet,
        and the thread's local property is reset after: leaking the tag
        would put unrelated jobs on this thread into the serving pool.
        (Pool WEIGHTING only applies under get_spark(fair_pools=True);
        the tag itself is scheduler-mode agnostic.)"""
        from kenshin_spark.functions import render
        from kenshin_spark.serving import store_render_fn
        from kenshin_spark.session import SERVING_POOL

        st = self._store(spark, tmp_path, "pool")
        seen = {}
        orig = render.apply_chain

        def spying_chain(grid, chain):
            seen["pool"] = spark.sparkContext.getLocalProperty(
                "spark.scheduler.pool"
            )
            out = orig(grid, chain)
            seen["plan"] = out._jdf.queryExecution().executedPlan().toString()
            return out

        monkeypatch.setattr(render, "apply_chain", spying_chain)
        render_fn = store_render_fn(st)
        rows = render_fn("sumSeries(m.*)", 60, 180, 180)
        assert [(ts, v) for _, ts, v in rows] == [(60, 4.0), (120, 2.0)]
        assert seen["pool"] == SERVING_POOL
        assert "FileScan" not in seen["plan"]
        assert (
            spark.sparkContext.getLocalProperty("spark.scheduler.pool")
            is None
        )

    def test_default_reader_is_an_isolated_clone(self, spark, tmp_path):
        """The default serving reader is a clone of the store on a CHILD
        SparkSession over the same root and manifest — its planning
        conf overrides never touch the writer's session."""
        from kenshin_spark.serving import store_serving_fns

        st = ParquetTieredStore(
            spark, SCHEMA, str(tmp_path / "iso")
        )
        st.upsert(
            0,
            spark.createDataFrame(
                [("m.i", 60, 1.0)], ["metric", "ts", "value"]
            ),
        )
        lookup, fetch_fn = store_serving_fns(st)
        reader = lookup.reader_store
        assert reader is not st and reader.root == st.root
        assert reader.spark is not st.spark  # isolated SQL conf
        assert reader.commit.epoch() == st.commit.epoch()
        assert dict(lookup("m.i")) == {60: 1.0}
