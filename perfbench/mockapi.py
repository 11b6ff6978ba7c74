"""Loopback stand-in for the laji.fi warehouse push API.

``POST /v0/warehouse/push`` answers 200 unless the document is one of the
deterministic fault cases, chosen by a hash of its ``documentId``:

* ``fault_kind(doc_id) == "reject"`` (~1%): always 400, a permanent
  rejection the sink must not retry;
* ``fault_kind(doc_id) == "flaky"`` (~2%): 503 on the first attempt only,
  so the sink's retry path runs and the second attempt succeeds.

The expected outcome of a push is therefore a fixed function of the
documents. The server speaks HTTP/1.1 and keeps connections open when the
client allows it, so a client that reuses connections shows up as fewer
``connections`` than ``requests``. It counts requests, accepted
connections, body bytes and responses by status, and keeps an
order-independent digest of the bodies it accepted.
"""

from __future__ import annotations

import hashlib
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def fault_kind(doc_id: str) -> str | None:
    bucket = int.from_bytes(hashlib.md5(doc_id.encode()).digest()[:4], "little") % 100
    if bucket == 0:
        return "reject"
    if bucket in (1, 2):
        return "flaky"
    return None


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server: "MockApi"

    def setup(self) -> None:
        super().setup()
        self.server.count("connections")

    def do_POST(self) -> None:  # noqa: N802 (http.server naming)
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        doc_id = json.loads(body)["documentId"]
        status = self.server.answer(doc_id, body)
        payload = json.dumps({"status": status}).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args) -> None:
        pass


class MockApi(ThreadingHTTPServer):
    """The mock server; ``start()`` serves on a daemon thread, ``close()``
    stops it and waits for the thread."""

    daemon_threads = True

    def __init__(self) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self.reset()

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_port}/"

    def reset(self) -> None:
        with self._lock:
            self.counts = {
                "connections": 0,
                "requests": 0,
                "body_bytes": 0,
                "status_200": 0,
                "status_400": 0,
                "status_503": 0,
            }
            self._flaky_seen: set[str] = set()
            #: XOR of the md5 of every accepted body: order-independent
            self.accepted_digest = 0

    def count(self, key: str, n: int = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def answer(self, doc_id: str, body: bytes) -> int:
        kind = fault_kind(doc_id)
        digest = int.from_bytes(hashlib.md5(body).digest()[:8], "little")
        with self._lock:
            self.counts["requests"] += 1
            self.counts["body_bytes"] += len(body)
            if kind == "reject":
                status = 400
            elif kind == "flaky" and doc_id not in self._flaky_seen:
                self._flaky_seen.add(doc_id)
                status = 503
            else:
                status = 200
                self.accepted_digest ^= digest
            self.counts[f"status_{status}"] += 1
        return status

    def snapshot(self) -> dict[str, int]:
        with self._lock:
            return dict(self.counts)

    def start(self) -> None:
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self.shutdown()
        self.server_close()
        if self._thread is not None:
            self._thread.join(timeout=10)
