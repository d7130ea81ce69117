"""S3 — the network-facing query serving layer.

Two surfaces, both thin wrappers around caller-supplied lookups so the
Spark session stays the single execution engine:

- ``CacheQueryServer`` — the reference's cache-query wire protocol
  (rurouni/protocols.py:65-84: 4-byte big-endian length framing, a
  pickled ``{'metric': name}`` request, a pickled
  ``{'datapoints': [(ts, value), ...]}`` response), so existing
  graphite-kenshin-style clients can point at this engine unchanged.
  Requests are decoded with the same restricted unpickler as the ingest
  source — a crafted request cannot execute code.
- ``HttpFetchServer`` — a JSON-over-HTTP fetch endpoint (the SURVEY §3.3
  "thin API" sketch): ``GET /fetch?metric=a&metric=b&from=F&until=U&now=N``
  → ``{"rows": [[metric, ts, value], ...]}`` and ``GET /hot?metric=m`` →
  ``{"datapoints": [[ts, value], ...]}``.

Both servers run on daemon threads with OS-assigned ports (``port=0``)
and are driver-side by design: at scale each serving replica holds its
own SparkSession (or Spark Connect client); the lookups they wrap are
partition-pruned reads, not scans.
"""

from __future__ import annotations

import json
import pickle
import socket
import socketserver
import struct
import threading
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from kenshin_spark.sources.pickle_batch import _safe_loads

#: (ts, value) pairs for one metric
Datapoints = list[tuple[int, float]]


class CacheQueryServer:
    """The reference's cache-query TCP endpoint over a pluggable lookup
    (typically ``StreamingIngest.hot_points`` filtered to the metric —
    the rows a cold fetch would miss, rurouni/cache.py:161-169)."""

    MAX_LENGTH = 3 << 20  # 3M, rurouni/protocols.py:66

    def __init__(
        self,
        lookup: Callable[[str], Datapoints],
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                while True:
                    header = _recv_exact(self.request, 4)
                    if header is None:
                        return
                    (length,) = struct.unpack("!L", header)
                    if length > outer.MAX_LENGTH:
                        return
                    raw = _recv_exact(self.request, length)
                    if raw is None:
                        return
                    try:
                        request = _safe_loads(raw)
                        metric = request["metric"]
                    except Exception:
                        return  # malformed/forbidden request → drop conn
                    rs = {"datapoints": outer.lookup(str(metric))}
                    payload = pickle.dumps(rs, protocol=2)
                    self.request.sendall(struct.pack("!L", len(payload)) + payload)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self.lookup = lookup
        self._server = Server((host, port), Handler)
        self.address: tuple[str, int] = self._server.server_address[:2]
        self._thread: threading.Thread | None = None

    def start(self) -> tuple[str, int]:
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self.address

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def cache_query(host: str, port: int, metric: str) -> Datapoints:
    """Client side of the wire protocol (what graphite-kenshin's finder
    does): one request, one response."""
    with socket.create_connection((host, port)) as s:
        payload = pickle.dumps({"metric": metric}, protocol=2)
        s.sendall(struct.pack("!L", len(payload)) + payload)
        (length,) = struct.unpack("!L", _recv_exact(s, 4))
        rs = _safe_loads(_recv_exact(s, length))
        return [(int(t), v) for t, v in rs["datapoints"]]


def _recv_exact(sock, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


class HttpFetchServer:
    """``/fetch`` + ``/hot`` (+ optional ``/render``) as JSON.
    ``fetch_fn(metrics, from, until, now)`` returns
    ``[(metric, ts, value), ...]`` (e.g. a lambda over
    ``ParquetTieredStore.fetch(...).collect()``); ``hot_fn(metric)``
    returns datapoints; ``render_fn(target, from, until, now)`` resolves
    a graphite target expression (glob + function chain — see
    ``functions.targets.parse_target``) to the same row shape, giving
    the wire surface graphite-web's /render parity."""

    def __init__(
        self,
        fetch_fn: Callable[[list[str], int, int, int], list[tuple]],
        hot_fn: Callable[[str], Datapoints] | None = None,
        render_fn: Callable[[str, int, int, int], list[tuple]] | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args) -> None:  # noqa: ARG002
                pass  # quiet; the engine has its own instrumentation

            def do_GET(self) -> None:
                url = urlparse(self.path)
                q = parse_qs(url.query)
                try:
                    if url.path == "/fetch":
                        rows = outer.fetch_fn(
                            q.get("metric", []),
                            int(q["from"][0]),
                            int(q["until"][0]),
                            int(q["now"][0]),
                        )
                        body = {"rows": [list(r) for r in rows]}
                    elif url.path == "/hot" and outer.hot_fn is not None:
                        body = {
                            "datapoints": [
                                list(p) for p in outer.hot_fn(q["metric"][0])
                            ]
                        }
                    elif url.path == "/render" and outer.render_fn is not None:
                        rows = outer.render_fn(
                            q["target"][0],
                            int(q["from"][0]),
                            int(q["until"][0]),
                            int(q["now"][0]),
                        )
                        body = {"rows": [list(r) for r in rows]}
                    else:
                        self.send_error(404)
                        return
                except (KeyError, ValueError, IndexError):
                    self.send_error(400)
                    return
                except Exception:  # noqa: BLE001 — engine errors (e.g.
                    # Spark analysis failures during fetch/collect) must
                    # still produce an HTTP response, not a dropped
                    # connection
                    self.send_error(500)
                    return
                data = json.dumps(body).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self.fetch_fn = fetch_fn
        self.hot_fn = hot_fn
        self.render_fn = render_fn
        self._server = ThreadingHTTPServer((host, port), Handler)
        self.address: tuple[str, int] = self._server.server_address[:2]
        self._thread: threading.Thread | None = None

    def start(self) -> tuple[str, int]:
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self.address

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


def reader_clone(store):
    """A READER clone of *store* on an isolated child ``SparkSession``
    (same SparkContext/executors, separate SQL conf), planning from the
    same committed manifest. Serving scans then scope their planning
    conf overrides (``kenshin_spark.store._explicit_list_planning``) to
    their own session, never the writer's."""
    session = store.spark.newSession()
    session.conf.set(
        "spark.sql.legacy.parquet.nanosAsLong",
        store.spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    return type(store)(session, store.schema, store.root, mode=store.mode)


def store_serving_fns(store, reader=None) -> tuple[
    Callable[[str], Datapoints],
    Callable[[list[str], int, int, int], list[tuple]],
]:
    """``(lookup, fetch_fn)`` over a ``ParquetTieredStore`` for the two
    servers, each one plain call — a scan planned from
    the committed manifest, so a response is never a torn read against
    a concurrent compaction/expiry commit (reference analog: cache
    queries answered mid-writeForever flush,
    rurouni/protocols.py:65-84). ``lookup`` serves the tier-0 points
    for one metric (the cache-query shape); ``fetch_fn`` the R1 grid
    fetch.

    Reads go through a ``reader_clone`` of the store on an isolated
    child ``SparkSession``. Pass ``reader`` explicitly to override
    (tests, or to share one clone across endpoints).

    Every lookup additionally tags its jobs with the ``serving``
    scheduler pool (a per-thread local property — exactly right here,
    since each socket handler runs on its own thread): under
    ``get_spark(fair_pools=True)`` serving scans get a weighted fair
    share of executors instead of FIFO-queueing behind a maintenance
    pass's compaction jobs; under the default FIFO scheduler the tag is
    inert."""
    from pyspark.sql import functions as F

    from kenshin_spark.session import SERVING_POOL

    if reader is None:
        reader = reader_clone(store)
    sc = reader.spark.sparkContext

    def _pooled(fn):
        sc.setLocalProperty("spark.scheduler.pool", SERVING_POOL)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    def lookup(metric: str) -> Datapoints:
        return _pooled(
            lambda: [
                (r["ts"], r["value"])
                for r in reader.read(0)
                .where(F.col("metric") == metric)
                .collect()
            ]
        )

    def fetch_fn(metrics, frm, until, now):
        def _go():
            df = reader.fetch(metrics, frm, until, now)
            if df is None:
                return []
            return [(r["metric"], r["ts"], r["value"]) for r in df.collect()]

        return _pooled(_go)

    lookup.reader_store = fetch_fn.reader_store = reader  # introspection
    return lookup, fetch_fn


def store_render_fn(
    store, reader=None
) -> Callable[[str, int, int, int], list[tuple]]:
    """Wire a ``ParquetTieredStore`` to the ``/render`` endpoint: parse
    the graphite target (nested function calls around a metric glob),
    glob-fetch the grid, apply the chain — the same path the CLI render
    verb runs, packaged for the HTTP server.

    Reads go through the same ``reader_clone`` + serving-pool treatment
    as ``store_serving_fns``. Pass ``reader`` to share one clone across
    endpoints."""
    from kenshin_spark.functions.render import apply_chain
    from kenshin_spark.functions.targets import parse_target

    from kenshin_spark.session import SERVING_POOL

    if reader is None:
        reader = reader_clone(store)
    sc = reader.spark.sparkContext

    def render_fn(target: str, frm: int, until: int, now: int) -> list[tuple]:
        def _go():
            glob, chain = parse_target(target)
            grid = reader.fetch_glob(glob, frm, until, now)
            if grid is None:
                return []
            out = apply_chain(grid, chain)
            return [
                (r["metric"], r["ts"], r["value"])
                for r in out.orderBy("metric", "ts").collect()
            ]

        sc.setLocalProperty("spark.scheduler.pool", SERVING_POOL)
        try:
            return _go()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    render_fn.reader_store = reader  # introspection
    return render_fn
