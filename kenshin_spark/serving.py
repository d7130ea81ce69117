"""S3 — the network-facing query serving layer.

Two surfaces, both thin wrappers around caller-supplied lookups:

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
and are driver-side by design. ``store_serving_fns`` and
``store_render_fn`` wire them to a ``ParquetTieredStore``: a request
reads the few files the committed manifest lists for it, with pyarrow
on the driver (``store.ArrowReader``), and runs no Spark job; only a
``/render`` function chain runs on Spark.
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
    same committed manifest with its own commit-protocol instance. A
    render chain runs on the clone's session, so any conf it sets stays
    off the writer's."""
    session = store.spark.newSession()
    session.conf.set(
        "spark.sql.legacy.parquet.nanosAsLong",
        store.spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    return type(store)(session, store.schema, store.root)


def store_serving_fns(store, reader=None) -> tuple[
    Callable[[str], Datapoints],
    Callable[[list[str], int, int, int], list[tuple]],
]:
    """``(lookup, fetch_fn)`` over a ``ParquetTieredStore`` for the two
    servers. ``lookup`` serves the tier-0 points of one metric (the
    cache-query shape); ``fetch_fn`` the R1 grid fetch. Both run on the
    store's ``ArrowReader``: the files the committed manifest lists for
    the request, read with pyarrow on the driver — no Spark job, as the
    reference answers a fetch by reading one file
    (kenshin/__init__.py:14-19). Each request plans at one manifest
    seq, so a response is never a torn read against a concurrent
    compaction/expiry commit (reference analog: cache queries answered
    mid-writeForever flush, rurouni/protocols.py:65-84).

    Plans come from a ``reader_clone`` of the store; pass ``reader`` to
    share one clone across endpoints (``store_render_fn`` runs its
    chain on the clone's session)."""
    from kenshin_spark.store import ArrowReader

    if reader is None:
        reader = reader_clone(store)
    arrow = ArrowReader(reader)

    def lookup(metric: str) -> Datapoints:
        return arrow.lookup(metric)

    def fetch_fn(metrics, frm, until, now):
        return arrow.fetch(metrics, frm, until, now) or []

    lookup.reader_store = fetch_fn.reader_store = reader  # introspection
    return lookup, fetch_fn


def store_render_fn(
    store, reader=None
) -> Callable[[str, int, int, int], list[tuple]]:
    """Wire a ``ParquetTieredStore`` to the ``/render`` endpoint: parse
    the graphite target (nested function calls around a metric glob),
    resolve the glob and fill the grid on the driver with the store's
    ``ArrowReader`` (both at one manifest seq), then apply the chain to
    the grid as one small local DataFrame — the only Spark jobs a
    render runs are the chain's. The grid goes to Spark as an Arrow
    table (a local relation: a Python-list DataFrame would start Python
    workers in the chain's first stage), and the chain's output is
    sorted on the driver (``orderBy`` would add a sampling job and a
    shuffle). The CLI render verb runs the same target through
    ``store.fetch_glob``.

    The chain's jobs are tagged with the ``serving`` scheduler pool (a
    per-thread local property — each handler runs on its own thread):
    under ``get_spark(fair_pools=True)`` they get a weighted fair share
    of executors instead of FIFO-queueing behind a maintenance pass;
    under the default FIFO scheduler the tag is inert. Pass ``reader``
    to share one ``reader_clone`` across endpoints."""
    import pyarrow as pa

    from kenshin_spark.functions.render import apply_chain
    from kenshin_spark.functions.targets import parse_target
    from kenshin_spark.session import SERVING_POOL
    from kenshin_spark.store import ArrowReader

    if reader is None:
        reader = reader_clone(store)
    arrow = ArrowReader(reader)
    sc = reader.spark.sparkContext
    grid_schema = pa.schema(
        [("metric", pa.string()), ("ts", pa.int64()), ("value", pa.float64())]
    )

    def render_fn(target: str, frm: int, until: int, now: int) -> list[tuple]:
        glob, chain = parse_target(target)
        plan = reader.fetch_plan(frm, until, now)
        if plan is None:
            return []
        rows = arrow.grid(plan, arrow.glob(glob, plan.seq))
        if not chain:
            return rows
        cols = list(zip(*rows)) or [(), (), ()]
        grid = reader.spark.createDataFrame(
            pa.Table.from_arrays(cols, schema=grid_schema)
        )
        sc.setLocalProperty("spark.scheduler.pool", SERVING_POOL)
        try:
            out = apply_chain(grid, chain).collect()
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)
        return sorted(
            ((r["metric"], r["ts"], r["value"]) for r in out),
            key=lambda r: r[:2],
        )

    render_fn.reader_store = reader  # introspection
    return render_fn
