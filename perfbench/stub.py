"""Localhost REST receiver for the sink steps.

Accepts POSTs at ``/<step-token>``; each request is one sink batch, either
JSON (``{"d": [...], "batch_id": ...}``, as ``sinks.rest_batch_sink`` sends)
or CSV with an ``X-Batch-Id`` header (``sinks.rest_csv_batch_sink``). At
most ``max_connections`` requests are served at once; further connections
wait in the listen backlog. For every request it records the batch id, the
records, the body size and the handling latency on the server side.
"""

from __future__ import annotations

import csv
import io
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


@dataclass
class Delivery:
    """What one step token received."""

    batch_ids: list[str] = field(default_factory=list)
    records: list = field(default_factory=list)
    bytes_posted: int = 0
    latencies_s: list[float] = field(default_factory=list)

    def duplicate_batches(self) -> int:
        return len(self.batch_ids) - len(set(self.batch_ids))


class _Handler(BaseHTTPRequestHandler):
    server: "_Server"

    def do_POST(self) -> None:  # noqa: N802 (http.server naming)
        t0 = time.perf_counter()
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.headers.get("Content-Type", "").startswith("text/csv"):
            batch_id = self.headers.get("X-Batch-Id", "")
            header, *rows = list(csv.reader(io.StringIO(body.decode("utf-8"))))
            records = [dict(zip(header, r)) for r in rows]
        else:
            payload = json.loads(body)
            batch_id = payload.get("batch_id", "")
            records = payload["d"]
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()
        self.server.record(self.path.lstrip("/"), batch_id, records, len(body),
                           time.perf_counter() - t0)

    def log_message(self, format, *args) -> None:  # noqa: A002 (base signature)
        pass


class _Server(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, max_connections: int):
        super().__init__(("127.0.0.1", 0), _Handler)
        self._slots = threading.BoundedSemaphore(max_connections)
        self._lock = threading.Lock()
        self.deliveries: dict[str, Delivery] = defaultdict(Delivery)

    def process_request(self, request, client_address) -> None:
        self._slots.acquire()
        super().process_request(request, client_address)

    def process_request_thread(self, request, client_address) -> None:
        try:
            super().process_request_thread(request, client_address)
        finally:
            self._slots.release()

    def record(self, token, batch_id, records, nbytes, latency_s) -> None:
        with self._lock:
            d = self.deliveries[token]
            d.batch_ids.append(batch_id)
            d.records.extend(records)
            d.bytes_posted += nbytes
            d.latencies_s.append(latency_s)

    def take(self, token: str) -> Delivery:
        with self._lock:
            return self.deliveries.pop(token, Delivery())


class RestStub:
    """A running receiver; use as a context manager."""

    def __init__(self, max_connections: int):
        self._server = _Server(max_connections)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def __enter__(self) -> "RestStub":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def url(self, token: str) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/{token}"

    def take(self, token: str) -> Delivery:
        """Remove and return what ``token`` received so far."""
        return self._server.take(token)
