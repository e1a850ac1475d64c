"""Stream lifecycle control (SURVEY §2.8 K5-K6).

A thin Python API mirroring the reference's REST control plane
(``MainController.java:29-61``: start / stop / status) without the HTTP
layer — callers embed this in whatever serving surface they need.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql.streaming import StreamingQuery


class StreamController:
    """start/stop/status guard around one streaming query.

    Reference behaviors kept: refuse to start while running; stop is a
    no-op when idle; a helper thread awaits termination so ``start``
    returns immediately (``spark/SparkStreamingService.java:93-121``).
    """

    def __init__(self) -> None:
        self._query: StreamingQuery | None = None
        self._lock = threading.Lock()

    def start(self, query_factory: Callable[[], StreamingQuery]) -> bool:
        with self._lock:
            if self.is_running:
                return False
            self._query = query_factory()
            threading.Thread(
                target=self._await, name="ssa-await-termination", daemon=True
            ).start()
            return True

    def _await(self) -> None:
        q = self._query
        if q is not None:
            try:
                q.awaitTermination()
            except Exception:  # noqa: BLE001 — stream stopped/failed; status() reflects it
                pass

    def stop(self) -> bool:
        with self._lock:
            if not self.is_running:
                return False
            assert self._query is not None
            self._query.stop()
            self._query = None
            return True

    @property
    def is_running(self) -> bool:
        return self._query is not None and self._query.isActive

    def status(self) -> dict:
        """``running``, ``id``, ``last_progress``, ``last_batch_id`` (the
        last completed batch, ``None`` before the first completes) and
        ``exception`` (the message a dead query failed with, else
        ``None``). A failed query stays here until the next start."""
        # snapshot once: a concurrent stop() (ThreadingHTTPServer runs
        # /status and /stop on different threads) may null self._query
        # between the check and the dereferences (r10 review)
        q = self._query
        if q is None:
            return {"running": False}
        running = q.isActive
        progress = q.lastProgress
        error = None if running else q.exception()
        return {
            "running": running,
            "id": str(q.id),
            "last_progress": progress,
            "last_batch_id": progress["batchId"] if progress else None,
            "exception": None if error is None else str(error),
        }
