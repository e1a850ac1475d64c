"""HTTP control plane over :class:`.lifecycle.StreamController` (SURVEY
§2.8 K6 — the reference's REST surface, ``MainController.java:29-61``).

Stdlib-only (``http.server``): no framework dependency, and the server
thread is a pure control path — it never touches data, only the
driver-side query handle, exactly like the reference's Spring
controller. Routes (reference parity):

* ``POST /start``  → 200 ``{"started": true}`` | 409 if already running
  | 500 ``{"started": false, "error": ...}`` if building the query raised
  (e.g. a ``folderPath`` that does not exist)
* ``POST /stop``   → 200 ``{"stopped": true}`` | 409 if idle
* ``GET  /status`` → 200 controller status JSON (a dead query's
  exception message and last batch id included)

The reference returns plain strings ("Spark Streaming gestartet!");
structured JSON is the deliberate deviation — machine-checkable, and
status carries the query's last progress for monitoring.
"""

from __future__ import annotations

import inspect
import json
import threading
import urllib.parse
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.streaming import StreamingQuery

from spark_stream_analyzer_spark.streaming.lifecycle import StreamController


class ControlServer:
    """Serve start/stop/status for one streaming query on localhost.

    ``query_factory`` is called on each successful ``/start`` — the same
    deferred-build contract as :meth:`StreamController.start`, so a
    stopped query can be restarted (fresh query, same checkpoint →
    exactly-once resumes from the last commit). A factory taking a
    parameter additionally receives ``/start?folderPath=...`` (the
    reference's start signature, ``MainController.java:29-37``) — ``None``
    when the caller omits it.
    """

    def __init__(
        self,
        query_factory: Callable[[], StreamingQuery],
        host: str = "127.0.0.1",
        port: int = 0,
    ) -> None:
        self.controller = StreamController()
        factory = query_factory
        takes_folder = bool(inspect.signature(query_factory).parameters)
        controller = self.controller

        class Handler(BaseHTTPRequestHandler):
            def _reply(self, code: int, payload: dict) -> None:
                # default=str: query ids are uuid.UUID in PySpark 4
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self) -> None:  # noqa: N802 - http.server API
                parsed = urllib.parse.urlparse(self.path)
                if parsed.path == "/start":
                    if takes_folder:
                        qs = urllib.parse.parse_qs(parsed.query)
                        folder = qs.get("folderPath", [None])[0]
                        build = lambda: factory(folder)  # noqa: E731
                    else:
                        build = factory
                    try:
                        ok = controller.start(build)
                    except Exception as e:  # noqa: BLE001 — reported to the client
                        self._reply(500, {"started": False, "error": f"{type(e).__name__}: {e}"})
                        return
                    self._reply(200 if ok else 409, {"started": ok})
                elif parsed.path == "/stop":
                    ok = controller.stop()
                    self._reply(200 if ok else 409, {"stopped": ok})
                else:
                    self._reply(404, {"error": "unknown route"})

            def do_GET(self) -> None:  # noqa: N802 - http.server API
                # parsed path, not raw: /status?src=ui must route too
                if urllib.parse.urlparse(self.path).path == "/status":
                    self._reply(200, controller.status())
                else:
                    self._reply(404, {"error": "unknown route"})

            def log_message(self, *args) -> None:  # quiet test runs
                pass

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._server.server_address[:2]

    def start(self) -> None:
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="ssa-control-http", daemon=True
        )
        self._thread.start()

    def shutdown(self) -> None:
        self.controller.stop()
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)
