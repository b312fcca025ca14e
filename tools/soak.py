"""Live-pipeline soak benchmark.

Drives raw APRS frames through the daemon's own composition,
``cli.start``: a raw-text file stream (the mock APRS-IS feed) →
``decode_frames`` (the Arrow-batched S2 parser) →
``influxdb_sink_broadcast_calibrated`` (broadcast calibration, line
protocol and the HTTP write in one pass per micro-batch) POSTing to an
in-process InfluxDB stub over actual HTTP.  It reports sustained
rows/sec, the cold first batch's latency and the warm batches'
percentiles from the query's progress events, and accounts for every
frame read: the stub's lines plus the EQNS frames calibration absorbs
(they write no line, the reference's no-emit guard) must equal the
frames read, or the run raises.  ``--stateless`` runs the floor leg
instead: ``stream_lines`` without calibration into ``influxdb_sink``.

A second leg measures the REFERENCE'S write model on the same stub:
one HTTP POST per packet, a NEW connection per packet, serially
(aprs2influxdb ``__main__.py:1047-1085`` creates an InfluxDBClient
per callback and writes each packet alone).  That turns the engine's
"categorically faster" architecture claim into a measured ratio on
identical hardware and an identical sink.

Usage::

    python tools/soak.py [--frames 1000000] [--files 50] [--ref-frames 20000] [--stateless]

Prints one JSON line; record the numbers in BASELINE.md.
"""

from __future__ import annotations

import argparse
import http.server
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _StubState:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.lines = 0
        self.posts = 0


def start_influx_stub(state: _StubState) -> tuple[http.server.ThreadingHTTPServer, int]:
    """A minimal InfluxDB 1.x /write stub: counts lines, returns 204.
    ThreadingHTTPServer so the sink's parallel partitions don't
    serialize on the stub itself."""

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n)
            with state.lock:
                state.lines += body.count(b"\n") + (1 if body else 0)
                state.posts += 1
            self.send_response(204)
            self.end_headers()

        def log_message(self, *a):  # silence per-request stderr
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


# eleven templates covering every dispatch format the reference
# handles, INCLUDING telemetry-equation messages (the last one: the
# calibration dim's ~9,000 callsign keys); {i}/{cs} vary per frame so
# lines differ
_TEMPLATES = [
    "{cs}>APRS:=4217.22N/07148.38W-soak {i}",
    "{cs}>APRS:_10090556c220s004g005t077",
    "{cs}>APRS:T#{seq:03d},{a1},2,3,4,5,10101010",
    "{cs}>APRS:>Net Control {i}",
    "{cs}>APRS::N0CALL   :Hello{{{seq:03d}",
    "{cs}>APRS::BLN3     :Snow expected {i}",
    "{cs}>APRS:;LEADER   *092345z4903.50N/07201.75W>on the move",
    "{cs}>BEACON:>soak beacon {i}",
    "{cs}>APRS:=/5L!!<*e7>7P[soak",
    "KD2GSB>T2SP0W:`c_Vl!Xv/`\"4A}}soak",
    "{cs}>APRS::{cs_pad}:EQNS.1,2,3,0,1,0,0,1,0,0,1,0,2,0,-1",
]


def write_frames(staging: str, n_frames: int, n_files: int) -> int:
    """Returns how many EQNS frames it wrote: frame ``i`` is one when
    ``i % 11 == 10`` (9,090 of 100,000)."""
    os.makedirs(staging, exist_ok=True)
    per = n_frames // n_files
    i = eqns = 0
    for f in range(n_files):
        m = per if f < n_files - 1 else n_frames - per * (n_files - 1)
        with open(f"{staging}/frames_{f:04d}.txt", "w") as fh:
            for _ in range(m):
                t = _TEMPLATES[i % len(_TEMPLATES)]
                eqns += t is _TEMPLATES[-1]
                cs = f"AB{i % 9000:04d}"
                line = t.format(
                    cs=cs, cs_pad=f"{cs:<9}", i=i, seq=i % 1000, a1=i % 256
                )
                fh.write(line + "\n")
                i += 1
    return eqns


def run_soak(
    n_frames: int, n_files: int, ref_frames: int, stateless: bool = False,
    spark=None,
) -> dict:
    """Run the soak; ``spark`` defaults to a new ``soak`` session at 32
    shuffle partitions (a caller's session keeps its own settings)."""
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.cli import build_parser, start
    from aprs2influxdb_spark.session import get_spark
    from aprs2influxdb_spark.sinks.influxdb import influxdb_sink
    from aprs2influxdb_spark.sources.aprsis import decode_frames
    from aprs2influxdb_spark.streaming.pipeline import stream_lines

    if spark is None:
        spark = get_spark("soak", shuffle_partitions=32)
        spark.sparkContext.setLogLevel("ERROR")
    # recentProgress is capped (default 100): raise it past the batch
    # count or rows/percentiles silently undercount (review r7)
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(max(100, n_files + 50))
    )
    state = _StubState()
    srv, port = start_influx_stub(state)
    url = f"http://127.0.0.1:{port}"
    staging = tempfile.mkdtemp(prefix="soak_frames_")
    ckpt = tempfile.mkdtemp(prefix="soak_ckpt_")
    try:
        eqns_frames = write_frames(staging, n_frames, n_files)
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(staging)
            .select(
                F.col("value").alias("raw"),
                F.current_timestamp().alias("ingest_ts"),
            )
        )
        args = build_parser().parse_args([
            "--dbhost", "127.0.0.1", "--dbport", str(port),
            "--dbname", "soak", "--checkpoint", ckpt,
        ])
        # the stateless leg builds its serializer before the clock starts
        # (the broadcast sink builds its own inside the first batch)
        lines = stream_lines(decode_frames(raw)) if stateless else None
        t0 = time.time()
        if stateless:
            q = influxdb_sink(lines, checkpoint=ckpt, url=url, db="soak")
        else:
            q = start(spark, args, raw=raw)
        while q.isActive:
            q.processAllAvailable()
            if not q.status["isDataAvailable"] and not q.status["isTriggerActive"]:
                break
        wall = time.time() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
        with state.lock:  # snapshot before the ref leg reuses the stub
            sink_posts, sink_lines = state.posts, state.lines
        # in batch order: the first builds the serializer and first dim
        batch_ms = [
            p["durationMs"]["triggerExecution"] for p in prog if p["numInputRows"] > 0
        ]
        rows = sum(p["numInputRows"] for p in prog)
        if sink_lines + eqns_frames != rows:
            raise RuntimeError(
                f"soak lost frames: {sink_lines} lines + {eqns_frames} EQNS "
                f"frames != {rows} frames read"
            )

        def pct(v, q_):
            return v[min(len(v) - 1, int(q_ * len(v)))] if v else None

        # ---- reference write-model leg: per-packet POST, serial, a
        # fresh connection each time (urllib opens one per request) —
        # the lines are REAL pipeline output so the bytes are honest
        batch_lines = (
            stream_lines(
                decode_frames(
                    spark.read.text(staging).select(
                        F.col("value").alias("raw"),
                        F.current_timestamp().alias("ingest_ts"),
                    )
                )
            )
            .select("line")
            .limit(ref_frames)
            .collect()
        )
        sample_lines = [r["line"] for r in batch_lines]
        t1 = time.time()
        for ln in sample_lines:
            req = urllib.request.Request(
                f"{url}/write?db=soak",
                data=ln.encode(),
                headers={"Content-Type": "text/plain; charset=utf-8"},
            )
            with urllib.request.urlopen(req, timeout=30) as resp:
                resp.read()
        ref_wall = time.time() - t1
        ref_rps = len(sample_lines) / ref_wall if ref_wall else None
        pipeline_rps = rows / wall if wall else None
        return {
            "metric": "soak_pipeline_rows_per_sec",
            "leg": "stateless" if stateless else "broadcast",
            "value": round(pipeline_rps, 1),
            "unit": "rows/sec",
            "frames": rows,
            "eqns_frames": eqns_frames,
            "wall_sec": round(wall, 2),
            "batches": len(batch_ms),
            "first_batch_ms": batch_ms[0] if batch_ms else None,
            "batch_ms_p50": pct(sorted(batch_ms[1:]), 0.50),
            "batch_ms_p99": pct(sorted(batch_ms[1:]), 0.99),
            "http_posts": sink_posts,
            "http_lines": sink_lines,
            "ref_model_rows_per_sec": round(ref_rps, 1),
            "ref_model_frames": len(sample_lines),
            "speedup_vs_ref_model": round(pipeline_rps / ref_rps, 1)
            if ref_rps
            else None,
        }
    finally:
        srv.shutdown()
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--frames", type=int, default=1_000_000)
    ap.add_argument("--files", type=int, default=50)
    ap.add_argument("--ref-frames", type=int, default=20_000)
    ap.add_argument(
        "--stateless", action="store_true",
        help="floor leg: stream_lines without calibration into influxdb_sink, "
        "instead of the daemon's cli.start",
    )
    args = ap.parse_args()
    print(json.dumps(run_soak(args.frames, args.files, args.ref_frames, args.stateless)))
