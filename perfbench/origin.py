"""The live_site_crawl origin: an in-process HTTP server playing "the web".

It serves the seeded corpus forward-proxy style (the crawler's
HttpTransport sends absolute request URIs to it as its proxy), with the
status semantics the table origin encodes: a 429 page answers 429 on its
first hit and 200 afterwards.  Every response waits a fixed delay first,
standing in for WAN latency.  The server counts the work where it
happens: accepted connections, requests, responses by status, connections
closed without a response, and the delay it served.
"""

from __future__ import annotations

import threading
import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_X_HEADERS = ("image_id", "w", "h", "fmt", "caption", "phash")


class OriginCounters:
    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.connections = 0
            self.requests = 0
            self.no_response = 0
            self.delay_s = 0.0
            self.status = Counter()
            self.served_html: set[str] = set()

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "connections": self.connections,
                "requests": self.requests,
                "conn_failures": self.no_response,
                "delay_s": self.delay_s,
                "status": dict(self.status),
            }


class Origin:
    """``rows``: url -> page dict (PAGES columns; ``bytes`` holds the body)."""

    def __init__(self, rows: dict[str, dict], delay_s: float):
        self.rows = rows
        self.delay_s = delay_s
        self.counters = OriginCounters()
        self.hits: dict[str, int] = {}
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def reset(self) -> None:
        """Fresh 429 state and counters (one crawl's worth)."""
        with self.counters.lock:
            self.hits.clear()
        self.counters.reset()

    def start(self) -> None:
        origin = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def handle(self):
                self._responded = False
                with origin.counters.lock:
                    origin.counters.connections += 1
                try:
                    super().handle()
                finally:
                    if not self._responded:
                        with origin.counters.lock:
                            origin.counters.no_response += 1

            def do_GET(self):  # noqa: N802
                time.sleep(origin.delay_s)
                row = origin.rows.get(self.path)
                c = origin.counters
                with c.lock:
                    c.requests += 1
                    c.delay_s += origin.delay_s
                    n = origin.hits[self.path] = origin.hits.get(self.path, 0) + 1
                status = 404 if row is None else row["status"]
                if status == 429 and n >= 2:
                    status = 200  # recovered for the retry attempt
                body = (row["bytes"] or b"") if status == 200 else b""
                self.send_response(status)
                if row is not None:
                    self.send_header("Content-Type", row["content_type"])
                    if 300 <= status <= 399 and row["redirect_to"]:
                        self.send_header("Location", row["redirect_to"])
                if status == 200:
                    for col in _X_HEADERS:
                        if row[col] is not None:
                            self.send_header(
                                f"X-Zeno-{col.replace('_', '-').title()}",
                                str(row[col]))
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                self._responded = True
                with c.lock:
                    c.status[status] += 1
                    if status == 200 and row["content_type"] == "text/html":
                        c.served_html.add(self.path)

            def log_message(self, *args):
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        name="perfbench-origin", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None
