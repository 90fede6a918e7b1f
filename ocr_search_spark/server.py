"""Stdlib HTTP façade over :func:`api.search_pages` — the reference's
express server re-expressed (ApiServer.class.js:17-29, routes from
ApiHandler.const.js):

* ``GET /pages?searchTerm=…[&maxReturn=…]`` → the search_pages contract
  end-to-end over HTTP: 200 with ``{"pageList": […]}``, the reference's
  exact 400 messages, engine failures as 500 — the README's curl
  examples (README.md:40-65) run verbatim against it.
* ``GET /pageImg/<path>`` → static file serving rooted at a png dir
  (``express.static('data/png')``): 200 with bytes, 404 outside/missing;
  traversal outside the root is refused.

The server closes over a SparkSession plus the postings/docs DataFrames
and serves each request through the same public API the tests drive. It
answers from the index ``serving_index.of`` holds for the pair, built by
the first /pages request or before start (``jobs.py serve``): no later
request runs a Spark job. ``port=0`` binds an ephemeral port (``srv.port``).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from . import api


class PagesServer:
    """Lifecycle wrapper: ``start()`` serves on a daemon thread,
    ``stop()`` shuts down cleanly. Usable as a context manager."""

    def __init__(
        self,
        spark: SparkSession,
        postings: DataFrame,
        docs: DataFrame,
        host: str = "127.0.0.1",
        port: int = 0,
        png_root: str | None = None,
    ):
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test runs
                pass

            def _send(self, status: int, payload: dict) -> None:
                body = json.dumps(payload).encode("utf-8")
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:
                u = urlparse(self.path)
                if u.path == "/pages":
                    q = parse_qs(u.query, keep_blank_values=True)
                    params = {}
                    if "searchTerm" in q:
                        params["searchTerm"] = q["searchTerm"][0]
                    if "maxReturn" in q:
                        params["maxReturn"] = q["maxReturn"][0]
                    if "mode" in q:
                        params["mode"] = q["mode"][0]
                    try:
                        out = api.search_pages(
                            outer.spark, outer.postings, outer.docs, params
                        )
                    except api.ApiError as err:
                        self._send(err.status, {"message": err.message})
                        return
                    self._send(200, out)
                elif u.path.startswith("/pageImg/") and outer.png_root is not None:
                    # decode like express.static: page images are named
                    # after source files, so spaces and CJK are common
                    rel = unquote(u.path[len("/pageImg/") :])
                    root = Path(outer.png_root).resolve()
                    target = (root / rel).resolve()
                    if root not in target.parents and target != root:
                        self._send(404, {"message": "not found"})
                        return
                    if not target.is_file():
                        self._send(404, {"message": "not found"})
                        return
                    data = target.read_bytes()
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                else:
                    self._send(404, {"message": "not found"})

        self.spark = spark
        self.postings = postings
        self.docs = docs
        self.png_root = png_root
        self._srv = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._srv.server_address[1]

    def start(self) -> "PagesServer":
        self._thread = threading.Thread(
            target=self._srv.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)

    def __enter__(self) -> "PagesServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
