"""The benchmark's two network peers: a mock APRS-IS server that feeds
frames to the program's ``aprsis`` reader, and an InfluxDB 1.x ``/write``
stub that receives the program's line protocol.

Both live in the benchmark process and bind ``127.0.0.1`` only.  Times are
``time.time()`` readings, the clock Spark stamps each micro-batch's progress
with, so the time a batch started and the time its lines reached the stub
share one clock.
"""

from __future__ import annotations

import http.server
import re
import socket
import threading
import time

from perfbench.frames import SEQ_RE

# what the stub accepts: the program's measurement, one tag, some fields
_LINE_OK = re.compile(rb"^packet,format=[a-z-]+ [a-zA-Z_]+=\S")


class InfluxStub:
    """Counts and keeps every line POSTed to ``/write``.

    A line that is not line protocol of the program's shape gets the chunk a
    400, as InfluxDB would; the sink then bisects down to that line.  A line
    whose sequence tag was already seen counts as replayed."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.bodies: list[bytes] = []
        self.seen: set[int] = set()  # sequence tags of the lines received
        self.posts = 0
        self.rejected = 0
        self.replayed = 0
        self.last_arrival = 0.0
        self._srv: http.server.ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def _receive(self, body: bytes) -> bool:
        now = time.time()
        lines = body.split(b"\n") if body else []
        if not all(_LINE_OK.match(ln) for ln in lines):
            with self._lock:
                self.posts += 1
                self.rejected += 1 if len(lines) == 1 else 0
            return False
        with self._lock:
            self.posts += 1
            self.bodies.append(body)
            for ln in lines:
                m = SEQ_RE.search(ln)
                if m is None:
                    continue
                seq = int(m.group(1))
                if seq in self.seen:
                    self.replayed += 1
                self.seen.add(seq)
            self.last_arrival = now
        return True

    def start(self) -> str:
        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 - http.server's hook name
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                self.send_response(204 if stub._receive(body) else 400)
                self.end_headers()

            def log_message(self, *args):
                pass

        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._srv.daemon_threads = True
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self._srv.server_address[1]}"

    def all_lines(self) -> list[bytes]:
        with self._lock:
            return [ln for body in self.bodies for ln in body.split(b"\n")]

    def close(self) -> None:
        if self._srv is not None:
            self._srv.shutdown()
            self._srv.server_close()
            self._thread.join(timeout=10)


class AprsFeed:
    """A one-client APRS-IS server.  After the reader logs in, the benchmark
    pushes frames with :meth:`send`, as fast as TCP takes them."""

    def __init__(self) -> None:
        self._lsock = socket.create_server(("127.0.0.1", 0))
        self.port = self._lsock.getsockname()[1]
        self.send_done = 0.0
        self._conn: socket.socket | None = None
        self._ready = threading.Event()
        self._thread = threading.Thread(target=self._accept, daemon=True)
        self._thread.start()

    def _accept(self) -> None:
        try:
            conn, _ = self._lsock.accept()
        except OSError:
            return  # closed before the reader connected
        buf = b""
        while b"\n" not in buf:  # the reader's login line
            data = conn.recv(1024)
            if not data:
                conn.close()
                return
            buf += data
        conn.sendall(b"# aprsc 2.1 mock\r\n# logresp accepted\r\n")
        self._conn = conn
        self._ready.set()

    def wait_login(self, timeout: float) -> bool:
        return self._ready.wait(timeout)

    def send(self, frames: list[str]) -> None:
        """Write ``frames``, returning once TCP has taken the last byte."""
        self._conn.sendall("".join(f + "\r\n" for f in frames).encode())
        self.send_done = time.time()

    def close(self) -> None:
        self._lsock.close()
        if self._conn is not None:
            self._conn.close()
        self._thread.join(timeout=10)
