#!/usr/bin/env python
"""Serving correctness + latency under real write pressure at bench
scale (VERDICT r7 item 6): the r7 concurrent-serving test proved the
assertion shape at toy scale (2 metrics x 4 batches); this drives the
SAME shape against the 1M-point bench ingest — N concurrent TCP
cache-query + HTTP fetch + HTTP render clients hammering a live store
while

  phase A: ``StreamingIngest.process_batch`` commits 10 direct-mode
           micro-batches, then runs ``maintenance()`` (expiry + small-
           file audit + targeted compaction) WITH CLIENTS STILL UP;
  phase B: the same points stream through the WATERMARKED aggregated
           path under the RocksDB state provider (availableNow, 10
           time-ordered slices) into a fresh store, clients up
           throughout.

Prefix-correctness contract (the reference daemon's: cache queries
answered mid-writeForever flush are correct for whatever the writer
has committed, rurouni/protocols.py:65-84):

- phase A: every value a client sees for a (metric, tier0-slot) key
  must be one of that key's PER-BATCH LWW winners — batches commit in
  order, so the store state for a key after any prefix is exactly the
  within-batch winner of the largest committed batch containing the
  key; anything else is a torn read. After the writer finishes, a full
  fetch must equal the full-history LWW.
- phase B: the time-ordered slices partition keys (each key written by
  exactly one micro-batch), so every mid-stream value must equal the
  FINAL store value for its key — subset-of-final is the whole
  contract.

Reports requests served, error count, value-check count, and p50/p95
client latency per surface. Knobs: SPARK_GRAFT_LOAD_ROWS (default
1_000_000), SPARK_GRAFT_LOAD_CLIENTS (default 8, round-robin
TCP / fetch / render).
Importable: tests/test_serving_load.py runs the same harness at small
scale; the BENCH_NOTES r8 entry records the 1M capture.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import urllib.parse
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _replicated_points(spark, sf_dir: str, target: int):
    """Bench's fleet-growth shape: events as points, metric-suffixed
    replicas up to ``target`` rows (same as bench.py's ingest)."""
    from pyspark.sql import functions as F

    from kenshin_spark.io import load_table
    from kenshin_spark.sources.line_protocol import events_as_points

    base = events_as_points(load_table(spark, sf_dir, "events"))
    n_base = base.count()
    reps = max(1, math.ceil(target / max(n_base, 1)))
    pts = base.withColumn(
        "_r", F.explode(F.array(*[F.lit(i) for i in range(reps)]))
    ).withColumn(
        "metric", F.concat_ws("_", "metric", F.col("_r"))
    ).drop("_r").localCheckpoint(eager=True)
    return pts, n_base * reps


def _admissible_phase_a(spark, pts, probe_metrics, n_batches: int):
    """``({key: {admissible values}}, {key: {final values}})`` for the
    probe metrics, key = (metric, tier0 slot). The store's LWW is
    ``max_by(value, arrival)`` (operators/align.py), whose choice among
    arrival-TIED rows is unspecified — so a batch's admissible winners
    are ALL values at that batch's max arrival, and the final state is
    the tied-value set of the last batch containing the key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("metric", "slot", "batch")
    rows = (
        pts.where(F.col("metric").isin(list(probe_metrics)))
        .select(
            "metric",
            (F.col("ts") - F.col("ts") % 60).alias("slot"),
            (F.col("arrival") % n_batches).alias("batch"),
            "arrival",
            "value",
        )
        .withColumn("amax", F.max("arrival").over(w))
        .where(F.col("arrival") == F.col("amax"))
        .collect()
    )
    admissible: dict = {}
    final: dict = {}
    last_batch: dict = {}
    for r in rows:
        k = (r["metric"], r["slot"])
        admissible.setdefault(k, set()).add(r["value"])
        lb = last_batch.get(k)
        if lb is None or r["batch"] > lb:
            last_batch[k] = r["batch"]
            final[k] = {r["value"]}
        elif r["batch"] == lb:
            final[k].add(r["value"])
    return admissible, final


class _ClientFleet:
    """N looping clients (round-robin TCP cache-query / HTTP fetch /
    HTTP render) against a live store; collects latencies and
    value-checks every response against an admissible-values map (the
    render clients request ``scale(metric,2)`` and check ``value/2`` —
    exact in IEEE — so a torn read can't hide behind the chain)."""

    def __init__(self, tcp_addr, http_addr, probe_metrics, admissible,
                 window: tuple[int, int, int], n_clients: int = 8):
        self.tcp_addr, self.http_addr = tcp_addr, http_addr
        self.metrics = list(probe_metrics)
        self.admissible = admissible
        self.frm, self.until, self.now = window
        self.n_clients = n_clients
        self.stop_evt = threading.Event()
        self.errors: list = []
        self.lat: dict[str, list[float]] = {"tcp": [], "http": [], "render": []}
        self.checked = 0
        self.served = 0
        self._lock = threading.Lock()
        self._threads: list[threading.Thread] = []

    def _check(self, metric, slot, value):
        adm = self.admissible.get((metric, slot))
        if adm is None:
            # key the writer never produces → torn/invented row
            raise AssertionError(f"unexpected key {(metric, slot)}")
        if value not in adm:
            raise AssertionError(
                f"torn read {(metric, slot)}={value!r}, admissible {adm}"
            )

    def _tcp_loop(self, i: int):
        from kenshin_spark.serving import cache_query

        h, p = self.tcp_addr
        while not self.stop_evt.is_set():
            m = self.metrics[i % len(self.metrics)]
            t0 = time.perf_counter()
            try:
                rows = cache_query(h, p, m)
            except Exception as exc:
                self.errors.append(("tcp", repr(exc)))
                return
            dt = time.perf_counter() - t0
            with self._lock:
                self.lat["tcp"].append(dt)
                self.served += 1
                for ts, v in rows:
                    self._check(m, ts, v)
                    self.checked += 1

    def _http_loop(self, i: int):
        h, p = self.http_addr
        while not self.stop_evt.is_set():
            m = self.metrics[i % len(self.metrics)]
            url = (
                f"http://{h}:{p}/fetch?metric={m}"
                f"&from={self.frm}&until={self.until}&now={self.now}"
            )
            t0 = time.perf_counter()
            try:
                with urllib.request.urlopen(url, timeout=600) as resp:
                    body = json.load(resp)
            except Exception as exc:
                self.errors.append(("http", repr(exc)))
                return
            dt = time.perf_counter() - t0
            with self._lock:
                self.lat["http"].append(dt)
                self.served += 1
                for mm, ts, v in body["rows"]:
                    if v is not None:  # fetch grid NULL-pads
                        self._check(mm, ts, v)
                        self.checked += 1

    def _render_loop(self, i: int):
        h, p = self.http_addr
        while not self.stop_evt.is_set():
            m = self.metrics[i % len(self.metrics)]
            target = urllib.parse.quote(f"scale({m},2)")
            url = (
                f"http://{h}:{p}/render?target={target}"
                f"&from={self.frm}&until={self.until}&now={self.now}"
            )
            t0 = time.perf_counter()
            try:
                with urllib.request.urlopen(url, timeout=600) as resp:
                    body = json.load(resp)
            except Exception as exc:
                self.errors.append(("render", repr(exc)))
                return
            dt = time.perf_counter() - t0
            with self._lock:
                self.lat["render"].append(dt)
                self.served += 1
                for mm, ts, v in body["rows"]:
                    if v is not None:  # render grid NULL-pads like fetch
                        self._check(mm, ts, v / 2)  # scale(,2) inverse, exact
                        self.checked += 1

    def start(self):
        loops = (self._tcp_loop, self._http_loop, self._render_loop)
        for i in range(self.n_clients):
            t = threading.Thread(
                target=loops[i % len(loops)], args=(i,), daemon=True
            )
            t.start()
            self._threads.append(t)

    def stop(self, timeout=600) -> dict:
        self.stop_evt.set()
        for t in self._threads:
            t.join(timeout=timeout)
        hung = sum(t.is_alive() for t in self._threads)
        out = {
            "clients": self.n_clients,
            "served": self.served,
            "value_checks": self.checked,
            "errors": self.errors[:5],
            "n_errors": len(self.errors),
            "hung": hung,
        }
        for kind, xs in self.lat.items():
            if xs:
                xs = sorted(xs)
                out[f"{kind}_p50_ms"] = round(1e3 * statistics.median(xs), 1)
                out[f"{kind}_p95_ms"] = round(
                    1e3 * xs[int(0.95 * (len(xs) - 1))], 1
                )
                out[f"{kind}_n"] = len(xs)
        return out


def _servers_for(store):
    from kenshin_spark.serving import (
        CacheQueryServer,
        HttpFetchServer,
        store_render_fn,
        store_serving_fns,
    )

    # the engine's serving wiring: all three lookups plan from the
    # committed manifest THROUGH THE SHARED READER CLONE, so compaction
    # and expiry commits under fire are never a torn read, a starved
    # scan, or a 500. /render shares the clone.
    lookup, fetch_fn = store_serving_fns(store)
    render_fn = store_render_fn(store, reader=fetch_fn.reader_store)
    tcp = CacheQueryServer(lookup)
    http = HttpFetchServer(fetch_fn, render_fn=render_fn)
    return tcp, http, fetch_fn


def run(spark, sf_dir: str, target_rows: int, n_clients: int = 8,
        n_batches: int = 10, n_probe: int = 6) -> dict:
    from pyspark.sql import functions as F

    from kenshin_spark.config import Schema, SchemaSet
    from kenshin_spark.session import enable_rocksdb_state
    from kenshin_spark.streaming.ingest import StreamingIngest

    pts, n_rows = _replicated_points(spark, sf_dir, target_rows)
    now = int(pts.agg(F.max("ts")).collect()[0][0])
    probe = [
        r["metric"]
        for r in pts.groupBy("metric").count()
        .orderBy(F.desc("count"), "metric").limit(n_probe).collect()
    ]
    window = (now - 4 * 3600, now, now)
    schema = Schema.from_strings(
        "bench", ".*", "60s:90d,300s:180d,3600s:366d",
        xff=20.0, agg_method="average", cache_retention=600,
    )
    report: dict = {"rows": n_rows, "probe_metrics": probe}

    # ---------- phase A: direct batches + maintenance under fire
    admissible, final = _admissible_phase_a(spark, pts, probe, n_batches)
    root = tempfile.mkdtemp(prefix="kenshin_load_a_")
    try:
        ing = StreamingIngest(
            spark, SchemaSet((schema,)), root, clock=lambda: now
        )
        ing.process_batch(pts.where(F.col("arrival") % n_batches == 0), 0)
        store = ing.store_for(schema)
        tcp, http, fetch_fn = _servers_for(store)
        fleet = _ClientFleet(
            tcp.start(), http.start(), probe, admissible, window, n_clients
        )
        t0 = time.perf_counter()
        fleet.start()
        try:
            for b in range(1, n_batches):
                ing.process_batch(
                    pts.where(F.col("arrival") % n_batches == b), b
                )
            ing.maintenance(now=now, min_file_bytes=1 << 20)
        finally:
            a = fleet.stop()
            tcp.stop()
            http.stop()
        a["writer_wall_s"] = round(time.perf_counter() - t0, 1)
        # post-write: the fetch grid agrees with full-history LWW on
        # every probed slot inside the window (grid slots are
        # [roundup(from), roundup(until)) per operators/fetch.grid_fill)
        from kenshin_spark.operators.fetch import roundup

        got = {
            (m, ts): v
            for m, ts, v in fetch_fn(probe, *window[:2], now)
            if v is not None
        }
        lo_r, hi_r = roundup(window[0], 60), roundup(now, 60)
        want = {k: vs for k, vs in final.items() if lo_r <= k[1] < hi_r}
        assert set(got) == set(want), (
            f"final fetch key mismatch: {len(got)} vs {len(want)} slots"
        )
        mism = [k for k, v in got.items() if v not in want[k]]
        assert not mism, f"final fetch value mismatch on {mism[:3]}"
        a["final_slots_verified"] = len(want)
        report["phase_a_direct"] = a
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # ---------- phase B: aggregated + RocksDB state, clients live
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(provider_conf, None)
    tmp = tempfile.mkdtemp(prefix="kenshin_load_b_")
    in_dir, cp, root = f"{tmp}/in", f"{tmp}/cp", f"{tmp}/store"
    try:
        ing = StreamingIngest(
            spark, SchemaSet((schema,)), root, clock=lambda: now
        )
        lo, hi = [int(v) for v in pts.agg(F.min("ts"), F.max("ts")).first()]
        span = max(1, hi - lo + 1)
        for s in range(n_batches):
            a_, b_ = (
                lo + span * s // n_batches,
                lo + span * (s + 1) // n_batches,
            )
            pts.where(
                (F.col("ts") >= a_)
                & (F.col("ts") < b_ + (s == n_batches - 1))
            ).coalesce(1).write.mode("append").parquet(in_dir)
        enable_rocksdb_state(spark)
        stream = spark.readStream.schema(
            "metric string, ts long, value double, arrival long"
        ).option("maxFilesPerTrigger", "1").parquet(in_dir)
        store = ing.store_for(schema)
        tcp, http, fetch_fn = _servers_for(store)
        # each key is written by exactly one time-slice → admissible =
        # final store content; fill the map AFTER the stream, so the
        # fleet checks against a deferred dict (validate post-hoc)
        responses: list = []

        class _Recorder(_ClientFleet):
            def _check(self, metric, slot, value):
                responses.append((metric, slot, value))

        fleet = _Recorder(
            tcp.start(), http.start(), probe, {}, window, n_clients
        )
        t0 = time.perf_counter()
        fleet.start()
        try:
            q = ing.start_aggregated(
                stream, schema, checkpoint=cp,
                trigger={"availableNow": True},
            )
            q.awaitTermination(1800)
        finally:
            b = fleet.stop()
            tcp.stop()
            http.stop()
        b["stream_wall_s"] = round(time.perf_counter() - t0, 1)
        final_rows = {
            (r["metric"], r["ts"]): r["value"]
            for r in store.read(0)
            .where(F.col("metric").isin(probe))
            .collect()
        }
        torn = [
            (m, s, v)
            for (m, s, v) in responses
            if final_rows.get((m, s)) != v
        ]
        assert not torn, f"{len(torn)} mid-stream values != final: {torn[:3]}"
        b["value_checks"] = len(responses)
        b["rocksdb"] = True
        report["phase_b_aggregated_rocksdb"] = b
    finally:
        if before is None:
            try:
                spark.conf.unset(provider_conf)
            except Exception:
                pass
        else:
            spark.conf.set(provider_conf, before)
        shutil.rmtree(tmp, ignore_errors=True)
    return report


def main() -> None:
    from kenshin_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rows = int(os.environ.get("SPARK_GRAFT_LOAD_ROWS", "1000000"))
    clients = int(os.environ.get("SPARK_GRAFT_LOAD_CLIENTS", "8"))
    spark = get_spark("serving-under-load", cpus=None)
    spark.sparkContext.setLogLevel("ERROR")
    report = run(spark, sf_dir, rows, n_clients=clients)
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
