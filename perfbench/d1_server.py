"""Loopback D1 API server over a SQLite file.

A thin HTTP adapter over ``duckdb_cloudflare_spark/util/d1_stub.py``'s
``D1SqliteStubTransport``: GET and POST bodies on
``/client/v4/accounts/<acct>/d1/database[/<db>/query]`` are answered by
the stub, so the server speaks the same D1 response contract and the
library's real ``UrllibTransport`` reaches it through the ``base_url``
option.

Requests are served by a pool of ``nproc`` threads; SQLite calls are
serialized by one lock, like D1's single writer. The server counts
requests, statements, bytes and the time spent inside that lock (so the
sum never exceeds wall time, however many clients post at once);
``GET /__stats`` returns the counters, so client-side and server-side D1
cost can be told apart.

    python3 perfbench/d1_server.py --db d1.sqlite

prints ``PORT <n>`` on stdout once listening and serves until stdin closes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

from duckdb_cloudflare_spark.util.d1_stub import D1SqliteStubTransport


class _Stats:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.requests = 0
        self.posts = 0
        self.statements = 0
        self.bytes_in = 0
        self.bytes_out = 0
        self.server_s = 0.0

    def add(self, **kw) -> None:
        with self.lock:
            for k, v in kw.items():
                setattr(self, k, getattr(self, k) + v)

    def snapshot(self) -> dict:
        with self.lock:
            return {k: v for k, v in vars(self).items() if k != "lock"}


def make_handler(stub: D1SqliteStubTransport, stats: _Stats):
    db_lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args) -> None:  # quiet
            pass

        def _reply(self, body: bytes) -> None:
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _serve(self, call, n_in: int = 0, stmts: int = 0) -> None:
            with db_lock:
                t0 = time.perf_counter()
                try:
                    body = call()
                except ValueError:  # the stub's answer to an unknown path
                    body = None
                busy = time.perf_counter() - t0
            if body is None:
                self.send_error(404)
                return
            self._reply(body)
            stats.add(requests=1, posts=int(stmts > 0), statements=stmts, bytes_in=n_in,
                      bytes_out=len(body), server_s=busy)

        def do_GET(self) -> None:
            if self.path == "/__stats":
                self._reply(json.dumps(stats.snapshot()).encode())
                return
            self._serve(lambda: stub.get(self.path))

        def do_POST(self) -> None:
            raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if not self.path.endswith("/query"):
                self.send_error(404)
                return
            payload = json.loads(raw)
            stmts = len(payload) if isinstance(payload, list) else 1
            self._serve(lambda: stub.post(self.path, raw), len(raw), stmts)

    return Handler


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose connections are handled on a bounded thread pool."""

    def __init__(self, addr, handler, threads: int) -> None:
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--db", required=True)
    args = ap.parse_args()
    stats = _Stats()
    server = PooledHTTPServer(("127.0.0.1", 0),
                              make_handler(D1SqliteStubTransport(args.db), stats),
                              len(os.sched_getaffinity(0)))
    th = threading.Thread(target=server.serve_forever, daemon=True)
    th.start()
    print(f"PORT {server.server_address[1]}", flush=True)
    sys.stdin.read()  # parent closes stdin (or exits) → shut down
    server.shutdown()
    server.pool.shutdown(wait=True)
    server.server_close()


if __name__ == "__main__":
    main()
