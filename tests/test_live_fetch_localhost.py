"""live_fetch through the REAL stdlib transport against a localhost
HTTP fixture server (r3 VERDICT "what's missing" #4).

The sandbox has no external network, but a loopback socket needs none:
a ``ThreadingHTTPServer`` on 127.0.0.1 serves deterministic bodies, and
``urllib_transport`` — the exact production transport, not a fake —
fetches through it from inside Spark python workers via ``live_fetch``.
This exercises everything the fake-transport tests cannot: real URL
opening, real status propagation (200/404), redirect following inside
``urllib``, timeouts, and the thread pool under concurrent batches.
"""

from __future__ import annotations

import hashlib
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from crawlers_spark.operators.fetch import live_fetch, urllib_transport


def _body_for(path: str) -> bytes:
    return b"<html>" + hashlib.md5(path.encode()).hexdigest().encode() + b"</html>"


class _Handler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802 (stdlib name)
        if self.path.startswith("/missing/"):
            self.send_response(404)
            self.end_headers()
            return
        if self.path.startswith("/moved/"):
            # 301 → /job/<rest>; urllib follows, so live_fetch should
            # surface the FINAL 200 + the target body
            self.send_response(301)
            self.send_header("Location", "/job/" + self.path[len("/moved/"):])
            self.end_headers()
            return
        body = _body_for(self.path)
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # keep pytest output clean
        pass


@pytest.fixture(scope="module")
def http_base():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.server_close()


def test_live_fetch_real_transport_over_loopback(spark, http_base):
    # a dead port on loopback gives the transport-error (status 0) lane
    dead = "http://127.0.0.1:1"
    rows = (
        [(f"{http_base}/job/{i}", "src0", 0) for i in range(40)]
        + [(f"{http_base}/missing/{i}", "src1", 0) for i in range(5)]
        + [(f"{http_base}/moved/{i}", "src2", 0) for i in range(5)]
        + [(f"{dead}/refused/{i}", "src3", 0) for i in range(3)]
    )
    cand = spark.createDataFrame(
        rows, "url string, src_source string, retry int"
    ).repartition(4)

    fetched = live_fetch(
        cand, urllib_transport(timeout_s=5.0, max_workers=8), chunk_size=16
    )
    got = {r.url: r for r in fetched.collect()}
    assert len(got) == len(rows)

    for url, r in got.items():
        path = url.split("127.0.0.1")[1].split("/", 1)[1]
        if "/missing/" in url:
            assert r.status == 404 and r.html is None
        elif "/refused/" in url:
            assert r.status == 0 and r.html is None
        elif "/moved/" in url:
            # urllib followed the 301: final status 200, target body
            tail = url.rsplit("/", 1)[1]
            assert r.status == 200
            assert bytes(r.html) == _body_for(f"/job/{tail}")
        else:
            assert r.status == 200
            assert bytes(r.html) == _body_for("/" + path)

    # the O12 split over REAL statuses: everything non-200 is retryable
    retryable = fetched.where(F.col("status") != 200)
    assert retryable.count() == 8  # 5 × 404 + 3 × refused


def test_live_fetch_requests_overlap(spark):
    """The transport must actually OVERLAP requests inside a batch
    (r4 VERDICT "What's missing" #3): at real-web latency a serial
    loop turns a 1,000-URL task into ~100 s of dead waiting. A
    dedicated slow server counts in-flight requests under a lock;
    16 URLs × 300 ms through one 8-worker transport must reach ≥4
    simultaneous requests (serial execution never exceeds 1) and
    finish in under half the wall of a serial baseline measured here
    on the same 16 URLs (``max_workers=1``), so a slow host moves both
    walls together instead of failing a fixed-seconds bound."""
    import time

    state = {"inflight": 0, "max_inflight": 0}
    lock = threading.Lock()

    class _Slow(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            with lock:
                state["inflight"] += 1
                state["max_inflight"] = max(state["max_inflight"], state["inflight"])
            time.sleep(0.3)
            body = _body_for(self.path)
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            with lock:
                state["inflight"] -= 1

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Slow)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        rows = [(f"{base}/slow/{i}", "s", 0) for i in range(16)]
        cand = spark.createDataFrame(
            rows, "url string, src_source string, retry int"
        ).coalesce(1)  # ONE task → one transport instance does all 16

        def timed_fetch(max_workers):
            state["max_inflight"] = 0
            t0 = time.perf_counter()
            got = live_fetch(
                cand,
                urllib_transport(timeout_s=5.0, max_workers=max_workers),
                chunk_size=16,
            ).collect()
            wall = time.perf_counter() - t0
            assert len(got) == 16 and all(r.status == 200 for r in got)
            return wall, state["max_inflight"]

        serial_wall, serial_inflight = timed_fetch(1)
        assert serial_inflight == 1, state
        wall, inflight = timed_fetch(8)
        assert inflight >= 4, state
        assert wall < serial_wall / 2, (
            f"batch took {wall:.1f}s vs {serial_wall:.1f}s serial — requests look serial"
        )
    finally:
        srv.shutdown()
        srv.server_close()
