from __future__ import annotations

import http.server
import os
import threading

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # fast test startup


@pytest.fixture(scope="session")
def spark():
    from aprs2influxdb_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture()
def started_queries(monkeypatch):
    """Every ``StreamingQuery`` started during the test, in start order:
    a spy on ``DataStreamWriter.start`` keeps each handle, whose
    ``recentProgress`` (state-store metrics included) survives the
    query's termination."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    handles = []
    real = DataStreamWriter.start

    def start(self, *a, **k):
        handles.append(real(self, *a, **k))
        return handles[-1]

    monkeypatch.setattr(DataStreamWriter, "start", start)
    return handles


@pytest.fixture()
def fresh_memo(spark, monkeypatch):
    """An empty driver memo for the test: the context's ``plancache.memo``
    entries are set aside and come back when the test ends, so every
    value the test asks for is built afresh first."""
    from aprs2influxdb_spark.functions import plancache

    monkeypatch.delitem(
        spark.sparkContext.__dict__, plancache._MEMO_ATTR, raising=False
    )


@pytest.fixture()
def count_jobs(fresh_memo, monkeypatch):
    """Every ``DataFrame.count`` call during the test, in call order,
    against an empty driver memo: a spy on ``DataFrame.count`` keeps
    each counted frame, so a count the memo serves shows up as no call
    at all."""
    from pyspark.sql.classic.dataframe import DataFrame

    counted = []
    real = DataFrame.count

    def count(self):
        counted.append(self)
        return real(self)

    monkeypatch.setattr(DataFrame, "count", count)
    return counted


@pytest.fixture()
def gate_shards(monkeypatch):
    """``n_shards`` of every ``bounded.sharded_bucket_gate`` call during
    the test, in call order.  The bounded builders and the image and
    video gates look the function up at call time, so the spy sees
    them all."""
    from aprs2influxdb_spark.streaming import bounded

    shards = []
    real = bounded.sharded_bucket_gate

    def spy(banded, n_shards):
        shards.append(n_shards)
        return real(banded, n_shards)

    monkeypatch.setattr(bounded, "sharded_bucket_gate", spy)
    return shards


class _CaptureHandler(http.server.BaseHTTPRequestHandler):
    """InfluxDB 1.x ``/write`` stub: records every POST's (path, body),
    answers 204, or 400 when the body contains one of ``reject_bodies``
    (or always, with ``reject_all``), or 500 to the first POST with
    ``fail_first``."""

    calls: list[tuple[str, bytes]]
    lock: threading.Lock  # the server handles each POST in its own thread
    fail_first = False
    reject_all = False
    reject_bodies: set[bytes] = set()

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        cls = type(self)
        with cls.lock:
            cls.calls.append((self.path, body))
            first = len(cls.calls) == 1
        if cls.reject_all or any(b in body for b in cls.reject_bodies):
            self.send_response(400)
        elif cls.fail_first and first:
            self.send_response(500)
        else:
            self.send_response(204)
        self.end_headers()

    def log_message(self, *a):
        pass

    @classmethod
    def lines(cls) -> list[str]:
        """Every line of every POST body received so far."""
        with cls.lock:
            bodies = [body for _, body in cls.calls if body]
        return [ln for body in bodies for ln in body.decode().split("\n")]


@pytest.fixture()
def http_server():
    """A live ``/write`` stub on a ``ThreadingHTTPServer`` (the sink's
    partitions POST in parallel); yields (url, handler class)."""

    class Handler(_CaptureHandler):
        calls: list[tuple[str, bytes]] = []
        lock = threading.Lock()
        reject_bodies: set[bytes] = set()

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", Handler
    srv.shutdown()
    srv.server_close()
