"""The ``ingest_drain`` workload: the daemon's default chain draining a
backlog of frames (a closed loop: the feed is as fast as the reader reads).

The chain is the one ``cli.main`` starts by default: the ``aprsis`` source,
``decode_frames`` and ``influxdb_sink_broadcast_calibrated``, POSTing to an
in-process InfluxDB stub.  Set-up starts the session and the stream and
sends, in one burst, one ``EQNS`` frame per callsign, so no timed frame
changes calibration, and a full batch of the frame mix, so the per-row
paths are compiled and warm before timing.  While those batches run, the
oracle computes ``to_line_protocol(with_effective_equations(...))`` over
the equations and the timed frames.  Then a single frame makes a batch of
its own, and the backlog of whole 10,000-frame batches is sent while that
batch is processed: the reader finds the backlog whole, so every timed
batch reads a full 10,000 frames, whatever the phase of the reader's 1 s
collect deadline.  The timed window starts with the first batch that reads
the backlog and ends when the last line reaches the stub.  Afterwards the
stub's lines for the timed frames are compared with the oracle's as a
multiset, and every timed frame is accounted for.

The traced run then drives the same timed frames, batch by batch, through
the four layer functions the sink calls: once plainly, then again with each
call in a span of its own, so the spans' overhead is measured on one
pipeline.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import statistics
import threading
import time
from collections import Counter
from datetime import datetime

from perfbench.feed import AprsFeed, InfluxStub
from perfbench.frames import SEQ_RE, FrameSource
from perfbench.ledger import Tracer

BATCH = 10_000  # the reader's default cap on frames per micro-batch
NOMINAL_RATE = 2_000  # frames/s; sizes the backlog from --seconds, never measured
SINK = {"db": "mydb", "user": "root", "password": "root"}  # cli.py's defaults
WARM_START, TIMED_START = 500_000, 1_000_000  # first sequence numbers


class StreamFailed(RuntimeError):
    pass


def _wall(progress) -> float:
    """A batch's start, from its progress, as a ``time.time()`` reading."""
    return datetime.fromisoformat(progress.timestamp).timestamp()


def _wait_processing(q, timeout: float) -> None:
    """Return once the stream is processing a batch with new data."""
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        if not q.isActive:
            raise StreamFailed(f"stream stopped: {q.exception()}")
        if q.status["isDataAvailable"]:
            return
        time.sleep(0.01)
    raise StreamFailed(f"no batch started within {timeout:.0f} s")


def _wait_consumed(q, total: int, timeout: float) -> list:
    """Progress of every batch once the stream has read ``total`` frames
    and finished the batch that read the last of them."""
    deadline = time.perf_counter() + timeout
    seen = None
    while time.perf_counter() < deadline:
        if not q.isActive:
            raise StreamFailed(f"stream stopped: {q.exception()}")
        # one cheap call per poll; the full history only when a batch ended
        last = q.lastProgress
        if last is not None and (last.batchId, last.timestamp) != seen:
            seen = (last.batchId, last.timestamp)
            prog = [p for p in q.recentProgress if p.numInputRows > 0]
            if sum(p.numInputRows for p in prog) >= total:
                return prog
        time.sleep(0.1)
    raise StreamFailed(f"stream read fewer than {total} frames in {timeout:.0f} s")


def _raw_frame(spark, frames: list[str], seq0: int):
    """(raw, ingest_ts) rows in feed order; ``ingest_ts`` orders them."""
    import pandas as pd

    ts = pd.Timestamp("2026-01-01", tz="UTC") + pd.to_timedelta(
        range(seq0, seq0 + len(frames)), unit="us"
    )
    pdf = pd.DataFrame({"raw": frames, "ingest_ts": ts})
    return spark.createDataFrame(pdf, "raw string, ingest_ts timestamp")


def expected(spark, frames: list[str]) -> tuple[Counter, Counter]:
    """The lines the chain must write for ``frames`` (fed in this order),
    and how every frame is accounted for."""
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.operators.calibration import with_effective_equations
    from aprs2influxdb_spark.operators.projections import malformed_predicate, to_line_protocol
    from aprs2influxdb_spark.schema import OUTPUT_FORMATS
    from aprs2influxdb_spark.sources.aprsis import decode_frames

    # the oracle's few thousand rows need no more shuffle partitions than cores
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism)
    packets = with_effective_equations(decode_frames(_raw_frame(spark, frames, 0))).persist()
    try:
        lines = Counter(
            r[0] for r in to_line_protocol(packets, eqns_col="eqns_effective")
            .select("line").collect()
        )
        fmt = F.col("format")
        fate = (
            F.when(fmt.isNull(), "dead_letter")
            .when(fmt == "telemetry-message", "absorbed")
            .when(~fmt.isin(OUTPUT_FORMATS), "unknown_format")
            .when(malformed_predicate(F.col("eqns_effective")), "dead_letter")
            .otherwise("written")
        )
        fates = Counter({r[0]: r[1] for r in packets.groupBy(fate).count().collect()})
    finally:
        packets.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
    return lines, fates


def _timed_lines(stub: InfluxStub) -> list[bytes]:
    """The stub's lines but those of the warm-up batch of the frame mix."""
    out = []
    for ln in stub.all_lines():
        m = SEQ_RE.search(ln)
        if m is None or not WARM_START <= int(m.group(1)) < TIMED_START:
            out.append(ln)
    return out


def _check(got: list[bytes], want: Counter, fates: Counter, n_frames: int, log) -> int:
    """Frames whose lines differ from the oracle's, plus any the fates
    leave unaccounted for."""
    got_c = Counter(ln.decode() for ln in got)
    diff = (got_c - want) + (want - got_c)
    bad = {m.group(1) if (m := SEQ_RE.search(ln.encode())) else ln for ln in diff}
    if sum(fates.values()) != n_frames or fates["written"] != sum(want.values()):
        log(f"ingest: frames not accounted for: {dict(fates)} of {n_frames}")
        bad.add("accounting")
    if bad:
        log(f"ingest: {len(bad)} frames with wrong lines, e.g. {sorted(bad)[:3]}")
    return len(bad)


def run(spark, work_dir: str, seed: int, seconds: float, trace: bool, log) -> dict:
    from aprs2influxdb_spark.sinks.influxdb import influxdb_sink_broadcast_calibrated
    from aprs2influxdb_spark.sources.aprsis import decode_frames, register

    src = FrameSource(seed)
    eqns = src.priming_frames()
    warm = src.frames(BATCH, start=WARM_START, stream="warm")
    kick = src.frames(1, start=WARM_START + BATCH, stream="warm")
    prime = eqns + warm + kick
    n_timed = BATCH * max(1, round(seconds * NOMINAL_RATE / BATCH))
    timed = src.frames(n_timed, start=TIMED_START)

    stub, feed = InfluxStub(), AprsFeed()
    url = stub.start()
    pool = concurrent.futures.ThreadPoolExecutor(1)
    q = sender = None
    try:
        t0 = time.perf_counter()
        register(spark)
        raw = (
            spark.readStream.format("aprsis")
            .option("host", "127.0.0.1")
            .option("port", feed.port)
            .option("callsign", "N0CALL")
            .load()
        )
        q = influxdb_sink_broadcast_calibrated(
            decode_frames(raw), checkpoint=f"{work_dir}/checkpoint", url=url, **SINK
        )
        if not feed.wait_login(60):
            raise StreamFailed("the aprsis reader never logged in")
        # the oracle's lines for the check, computed while the stream warms
        # up (each micro-batch is one partition, so cores are free); the
        # equations go first so that calibration matches, and the warm-up
        # frames change none of it and stay out of the check
        oracle = pool.submit(expected, spark, eqns + timed)
        feed.send(eqns + warm)
        warm_prog = _wait_consumed(q, len(eqns) + len(warm), 120)
        want, fates = oracle.result()
        log(f"ingest: warm after {time.perf_counter() - t0:.1f} s")

        # the backlog goes out while the kick frame's batch is processed
        feed.send(kick)
        _wait_processing(q, 30)
        t_send = time.time()
        sender = threading.Thread(target=feed.send, args=(timed,))
        sender.start()
        prog = _wait_consumed(q, len(prime) + n_timed, 60 + 10 * seconds)
        sender.join()
        gen_lag_s = feed.send_done - t_send
    finally:
        if q is not None:
            q.stop()
        feed.close()
        if sender is not None:
            sender.join(timeout=30)
        stub.close()
        pool.shutdown(cancel_futures=True)
    stream_error = q.exception() if q is not None else None
    if stream_error is not None:
        log(f"ingest: stream thread raised: {stream_error}")

    # the timed batches: from the first that read a backlog frame
    read, batches = 0, []
    for p in prog:
        read += p.numInputRows
        if read > len(prime):
            batches.append(p)
    t_first = _wall(batches[0])
    drain_s = stub.last_arrival - t_first
    warm_at = time.perf_counter() - (time.time() - t_first)
    failed = _check(_timed_lines(stub), want, fates, len(eqns) + n_timed, log) + (
        stream_error is not None
    )
    out = {
        "attempted": n_timed, "failed": failed,
        "warmup_s": warm_at - t0, "warm_at": warm_at,
        "window": (t_first, stub.last_arrival),
        "metrics": {
            # the backlog over the time from the start of the first batch
            # that read it to its last line at the stub
            "throughput_per_s": n_timed / drain_s,
            # addBatch: the sink's work, without the reader's share
            "unit_geomean_s": statistics.geometric_mean(
                p.durationMs["addBatch"] / 1000.0 for p in batches
            ),
        },
        "layers": {}, "tracer": None,
    }
    log(f"ingest: {n_timed} frames in {drain_s:.3f} s, batches of "
        f"{[p.numInputRows for p in prog[len(warm_prog):]]} frames, timed "
        f"{[p.durationMs['triggerExecution'] for p in batches]} ms; "
        f"warm-up {warm_at - t0:.1f} s")
    if trace:
        out["layers"] = {
            "stream.batches": len(batches),
            **{f"stream.{k}": statistics.median(v) / 1000.0 for k, v in {
                "batch_s": [p.durationMs["triggerExecution"] for p in batches],
                "add_batch_s": [p.durationMs["addBatch"] for p in batches],
                "commit_s": [p.durationMs["walCommit"] + p.durationMs["commitOffsets"]
                             for p in batches],
            }.items()},
            "aprsis.read_s": statistics.median(p.durationMs["latestOffset"] for p in batches) / 1000,
            "aprsis.batch_rows": statistics.median(p.numInputRows for p in batches),
            # the whole backlog is sent at once: what the first batch left
            "aprsis.backlog_frames": n_timed - batches[0].numInputRows,
            "gen.lag_s": gen_lag_s,
        }
        traced, tracer = _traced(spark, eqns, warm, timed, want, fates, log)
        out["layers"].update(traced)
        out["tracer"] = tracer
        out["failed"] += traced.pop("failed")
    return out


def _replay(spark, calib, chunks, seq0: int, url: str, span) -> list[tuple]:
    """Drive ``chunks`` (one micro-batch each) through the layer functions
    in the order the sink calls them, each call inside ``span(layer,
    batch)``.  Returns (wall seconds, packets, calibrated rows, lines
    written) per chunk; the caller unpersists the frames."""
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.sinks.influxdb import write_lines_http
    from aprs2influxdb_spark.sources.aprsis import decode_frames
    from aprs2influxdb_spark.streaming.pipeline import stream_lines

    out = []
    for chunk in chunks:
        raw = _raw_frame(spark, chunk, seq0)
        tid = f"seq{seq0}"
        seq0 += len(chunk)
        t0 = time.perf_counter()
        with span("decode", tid):
            packets = decode_frames(raw).persist()
            packets.count()
        with span("calibrate", tid):
            cal = calib.apply(packets, seq0).withColumn(
                "eqns_effective", F.from_json("eqns_json", "array<array<double>>")
            ).persist()
            cal.count()
        with span("lines", tid):
            lines = [r[0] for r in stream_lines(cal, eqns_col="eqns_effective")
                     .select("line").collect()]
        with span("sink", tid):
            n = write_lines_http(lines, url, SINK["db"], user=SINK["user"],
                                 password=SINK["password"])
        out.append((time.perf_counter() - t0, packets, cal, n))
    return out


def _no_span(name: str, trace: str):
    return contextlib.nullcontext()


def _traced(spark, eqns, warm, timed, want, fates, log) -> tuple[dict, Tracer]:
    """The same batches again (equations, warm-up, then the timed frames)
    through the layer functions in the order the sink calls them.  The
    timed frames go through twice, first without spans and then with a
    span around each call, to a stub of its own that only the traced
    replay writes to (the equation frames write no lines).  The figures
    cover the traced batches; the overhead is the traced replay's wall
    minus the plain one's."""
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.streaming.calibration import BroadcastCalibrator

    def release(done):
        for _, packets, cal, _ in done:
            cal.unpersist()
            packets.unpersist()

    tracer = Tracer(spark)
    calib = BroadcastCalibrator(spark)
    chunks = [timed[i: i + BATCH] for i in range(0, len(timed), BATCH)]
    plain_stub, stub = InfluxStub(), InfluxStub()
    plain_url, url = plain_stub.start(), stub.start()
    try:
        release(_replay(spark, calib, [eqns, warm], 0, plain_url, _no_span))
        plain = _replay(spark, calib, chunks, len(eqns) + len(warm), plain_url, _no_span)
        release(plain)
        done = _replay(spark, calib, chunks, len(eqns) + len(warm), url, tracer.span)
        dead = sum(p.filter(F.col("format").isNull()).count() for _, p, _, _ in done)
        dim_keys = max(
            c.filter(F.col("eqns_json").isNotNull()).select("from_call").distinct().count()
            for _, _, c, _ in done
        )
        written = sum(n for *_, n in done)
        release(done)
        failed = _check(_timed_lines(stub), want, fates, len(eqns) + len(timed), log)
    finally:
        plain_stub.close()
        stub.close()
    plain_s = sum(w for w, *_ in plain)
    traced_s = sum(w for w, *_ in done)
    tracer.resolve()
    per_batch = tracer.by_trace().values()

    def med(name: str) -> float:
        return statistics.median(s.wall_s for spans in per_batch for s in spans if s.name == name)

    return {
        "failed": failed,
        "trace.overhead_s": traced_s - plain_s,
        "trace.overhead_share": (traced_s - plain_s) / plain_s,
        "decode.s": med("decode"), "decode.dead_letters": dead,
        "calibrate.s": med("calibrate"), "calibrate.dim_keys": dim_keys,
        "lines.s": med("lines"),
        "sink.post_s": med("sink"), "sink.posts": stub.posts,
        "sink.lines_written": written, "sink.lines_rejected": stub.rejected,
        "sink.retries": stub.replayed,
        **tracer.spark_metrics(),
    }, tracer
