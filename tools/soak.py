"""Live-pipeline soak benchmark (round 7, verdict-r6 item 5).

Drives ~1M raw APRS frames through the FULL ingest pipeline — raw
text file stream (the mock APRS-IS feed) → ``decode_frames`` (the
Arrow-batched S2 parser) → 10-format dispatch + projection + line
protocol (``stream_lines``) → the real ``influxdb_sink``
``foreachBatch`` writer POSTing to an in-process InfluxDB stub over
actual HTTP — and reports sustained rows/sec plus micro-batch latency
percentiles from the query's own progress events.

A second leg measures the REFERENCE'S write model on the same stub:
one HTTP POST per packet, a NEW connection per packet, serially
(aprs2influxdb ``__main__.py:1047-1085`` creates an InfluxDBClient
per callback and writes each packet alone).  That turns the engine's
"categorically faster" architecture claim into a measured ratio on
identical hardware and an identical sink.

Usage::

    python tools/soak.py [--frames 1000000] [--files 50] [--ref-frames 20000]

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
    def __init__(self, keep_lines: bool = False) -> None:
        self.lock = threading.Lock()
        self.lines = 0
        self.posts = 0
        # the received lines themselves, for callers that compare them
        self.got: list[str] | None = [] if keep_lines else None


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
                if state.got is not None and body:
                    state.got.extend(body.decode().split("\n"))
            self.send_response(204)
            self.end_headers()

        def log_message(self, *a):  # silence per-request stderr
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


# eleven templates covering every dispatch format the reference
# handles, INCLUDING telemetry-equation messages (the stateful leg's
# keyed state per callsign); {i}/{cs} vary per frame so lines differ
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


def write_frames(
    staging: str, n_frames: int, n_files: int, start: int = 0,
    with_seq: bool = False,
) -> None:
    """``with_seq`` prefixes each line with its arrival sequence number
    and a tab (the receiver-side stamp the ingest gate keys its
    ordered-ingest contract on — an APRS-IS feed is one ordered TCP
    stream, so the stamp is free at the connector)."""
    os.makedirs(staging, exist_ok=True)
    per = n_frames // n_files
    i = start
    for f in range(n_files):
        m = per if f < n_files - 1 else n_frames - per * (n_files - 1)
        with open(f"{staging}/frames_{f:04d}.txt", "w") as fh:
            for _ in range(m):
                t = _TEMPLATES[i % len(_TEMPLATES)]
                cs = f"AB{i % 9000:04d}"
                line = t.format(
                    cs=cs, cs_pad=f"{cs:<9}", i=i, seq=i % 1000, a1=i % 256
                )
                fh.write((f"{i}\t{line}" if with_seq else line) + "\n")
                i += 1


def _gate_banded(df):
    """(seq, raw) → exploded (doc_id, raw, band, key): the drained LSH
    gate's banding applied to APRS frames.  Tokenizer: runs of
    alphanumerics — frames carry almost no spaces, so the document
    tokenizer would see 1-2 tokens and collapse every frame into a
    handful of buckets."""
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.functions.hashing import hashed_shingles
    from aprs2influxdb_spark.operators.dedup import (
        _signatures_from_shingles,
        banded_keys,
    )

    toks = F.split(F.lower(F.col("raw")), "[^a-z0-9.]+")
    arr = df.select(
        F.col("seq").alias("doc_id"),
        "raw",
        hashed_shingles(toks, 3).alias("sh"),
    )
    return banded_keys(
        _signatures_from_shingles(arr, "doc_id", 16, carry=("raw",)),
        "doc_id",
        16,
        4,
        carry=("raw",),
    )


def run_soak_gate(n_frames: int, n_files: int, strategy: str = "apws") -> dict:
    """``--gate lsh`` (round 11, verdict-r10 item 7): the number a
    production deployment asks first — what does dedup-at-ingest cost?
    The first half of the corpus plays the already-drained epoch (its
    band-bucket aggregate persisted as the BUCKETED gate index); the
    second half STREAMS through the drained LSH gate and only
    non-duplicate frames continue through decode → line protocol → the
    real HTTP sink.  Reported rows/sec covers the streamed half with
    the whole gate in the path; the index build (the drain itself) is
    timed separately, as in production it is an offline compaction.

    Two gate strategies, the round-8 calibration-A/B discipline:

    - ``apws``: the registry gates' shape — keyed bucket state via
      ``applyInPandasWithState``, verdict rollup in ``foreachBatch``.
      At APRS frame rates the per-BUCKET pandas group call dominates
      (~1 row per group × tens of thousands of groups per batch).
    - ``fold``: no keyed state anywhere — each batch bands JVM-side,
      probes the accumulated index (the drain segment plus one
      appended segment per prior batch), resolves in-batch anchors
      with a per-key window, and appends its own bucket aggregate as
      a new segment: the micro-batch form of the gate's drain CYCLE
      (``bounded.merge_gate_index`` is the compaction).  Identical
      anchor semantics under ordered ingest; everything stays in
      whole-stage codegen."""
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from aprs2influxdb_spark.session import get_spark
    from aprs2influxdb_spark.sinks.influxdb import write_partitions
    from aprs2influxdb_spark.sources.aprsis import decode_frames
    from aprs2influxdb_spark.streaming.bounded import (
        GroupStateTimeout,
        LSH_GATE_STATE,
        _lsh_bucket_group,
        persist_gate_index,
        probe_gate_index,
    )
    from aprs2influxdb_spark.streaming.pipeline import stream_lines

    spark = get_spark("soak", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    n_pre = n_frames // 2
    pre_files = max(1, n_files // 2)
    post_files = max(1, n_files - pre_files)
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(post_files + 50)
    )
    state = _StubState()
    srv, port = start_influx_stub(state)
    url = f"http://127.0.0.1:{port}"
    pre = tempfile.mkdtemp(prefix="soak_pre_")
    post = tempfile.mkdtemp(prefix="soak_post_")
    ckpt = tempfile.mkdtemp(prefix="soak_ckpt_")
    store_key = f"soak-{uuid.uuid4().hex[:8]}"
    segs = None
    totals = {"frames": 0, "dropped": 0}
    try:
        write_frames(pre, n_pre, pre_files, start=0, with_seq=True)
        write_frames(
            post, n_frames - n_pre, post_files, start=n_pre, with_seq=True
        )

        def _parse(df):
            p = F.split(F.col("value"), "\t", 2)
            return df.select(
                p[0].cast("long").alias("seq"), p[1].alias("raw")
            )

        # the DRAIN: band the pre-ingested epoch, persist its bucket
        # aggregate bucketed on key (zero saved-side exchange at probe)
        t_drain = time.time()
        index = persist_gate_index(
            spark,
            _gate_banded(_parse(spark.read.text(pre)))
            .groupBy("key")
            .agg(
                F.min("doc_id").alias("p_first"),
                F.max("doc_id").alias("p_last"),
            ),
            store_key,
        )
        index_rows = index.count()
        drain_sec = time.time() - t_drain

        src = _parse(
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(post)
        )

        def _sink_verdict(verdict):
            """verdict: (doc_id, raw, anchor) — count, drop, ship."""
            n_all, n_dup = verdict.agg(
                F.count(F.lit(1)), F.count("anchor")
            ).first()
            totals["frames"] += int(n_all)
            totals["dropped"] += int(n_dup)
            survivors = verdict.filter(F.col("anchor").isNull()).select(
                "raw", F.current_timestamp().alias("ingest_ts")
            )
            write_partitions(
                stream_lines(decode_frames(survivors)).select("line"), url, "soak"
            )

        if strategy == "apws":
            banded = probe_gate_index(_gate_banded(src), index)
            out_schema = StructType(
                [
                    StructField("doc_id", LongType()),
                    StructField("band", LongType()),
                    StructField("raw", StringType()),
                    StructField("anchor", LongType()),
                ]
            )
            gated = banded.groupBy("key").applyInPandasWithState(
                _lsh_bucket_group,
                out_schema,
                LSH_GATE_STATE,
                "append",
                GroupStateTimeout.NoTimeout,
            )

            def _write_batch(batch_df, batch_id):
                batch_df.persist()
                try:
                    _sink_verdict(
                        batch_df.groupBy("doc_id", "raw").agg(
                            F.min("anchor").alias("anchor")
                        )
                    )
                finally:
                    batch_df.unpersist()

            stream_out = gated
        else:  # fold: stateless plan, gate entirely inside foreachBatch
            from pyspark.sql import Window

            segs = tempfile.mkdtemp(prefix="soak_segs_")  # cleaned in finally
            # seed with the drain's aggregate: segment 0
            index.write.mode("append").parquet(segs)

            def _write_batch(batch_df, batch_id):
                banded = _gate_banded(batch_df).persist()
                try:
                    idx = (
                        spark.read.parquet(segs)
                        .groupBy("key")
                        .agg(F.min("p_first").alias("p_first"))
                    )
                    w = Window.partitionBy("key")
                    j = banded.join(idx, "key", "left").withColumn(
                        "mb", F.min("doc_id").over(w)
                    )
                    anchor_k = F.least(
                        F.col("p_first"),
                        F.when(F.col("mb") < F.col("doc_id"), F.col("mb")),
                    )
                    _sink_verdict(
                        j.groupBy("doc_id", "raw").agg(
                            F.min(anchor_k).alias("anchor")
                        )
                    )
                    # this batch's bucket aggregate becomes a segment;
                    # merge_gate_index over the segments is the cycle's
                    # offline compaction (not in the hot path)
                    banded.groupBy("key").agg(
                        F.min("doc_id").alias("p_first"),
                        F.max("doc_id").alias("p_last"),
                    ).write.mode("append").parquet(segs)
                finally:
                    banded.unpersist()

            stream_out = src

        t0 = time.time()
        q = (
            stream_out.writeStream.foreachBatch(_write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )
        while q.isActive:
            q.processAllAvailable()
            if not q.status["isDataAvailable"] and not q.status["isTriggerActive"]:
                break
        wall = time.time() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
        batch_ms = sorted(
            p["durationMs"]["triggerExecution"]
            for p in prog
            if p["numInputRows"] > 0
        )

        def pct(v, q_):
            return v[min(len(v) - 1, int(q_ * len(v)))] if v else None

        rps = totals["frames"] / wall if wall else None
        return {
            "metric": "soak_gate_rows_per_sec",
            "gate": "lsh-drained",
            "strategy": strategy,
            "value": round(rps, 1) if rps else None,
            "unit": "rows/sec",
            "frames": totals["frames"],
            "dropped_dups": totals["dropped"],
            "drop_pct": round(100.0 * totals["dropped"] / totals["frames"], 2)
            if totals["frames"]
            else None,
            "index_rows": index_rows,
            "drain_sec": round(drain_sec, 2),
            "wall_sec": round(wall, 2),
            "batches": len(batch_ms),
            "batch_ms_p50": pct(batch_ms, 0.50),
            "batch_ms_p99": pct(batch_ms, 0.99),
            "http_posts": state.posts,
            "http_lines": state.lines,
        }
    finally:
        srv.shutdown()
        from aprs2influxdb_spark.media_store import _cache_root
        from aprs2influxdb_spark.streaming.bounded import GATE_INDEX_VERSION

        for d in (
            pre,
            post,
            ckpt,
            segs,
            os.path.join(_cache_root(), f"gate{GATE_INDEX_VERSION}-{store_key}"),
        ):
            if d:
                shutil.rmtree(d, ignore_errors=True)


def run_soak(
    n_frames: int, n_files: int, ref_frames: int, stateful: bool = False,
    strategy: str = "apws",
) -> dict:
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.session import get_spark
    from aprs2influxdb_spark.sinks.influxdb import influxdb_sink
    from aprs2influxdb_spark.sources.aprsis import decode_frames
    from aprs2influxdb_spark.streaming.pipeline import stream_lines

    def _lines(packets):
        """The production chain: stateless projection, or (--stateful)
        the FULL cli.py pipeline with keyed as-of calibration state
        per callsign — via one of the three strategies the round-8
        A/B measures (--strategy): 'apws' applyInPandasWithState,
        'tws' transformWithState, 'broadcast' a per-batch-refreshed
        compacted dim (handled in the sink below, not here).
        ~9000 state keys in this corpus — telemetry packets scale
        through equations absorbed from the EQNS template's frames,
        exactly the reference's behavior."""
        if not stateful:
            return stream_lines(packets)
        from aprs2influxdb_spark.streaming.calibration import (
            with_streaming_calibration,
            with_streaming_calibration_tws,
        )

        mk = (
            with_streaming_calibration_tws
            if strategy == "tws"
            else with_streaming_calibration
        )
        cal = mk(packets).withColumn(
            "eqns_effective", F.from_json("eqns_json", "array<array<double>>")
        )
        return stream_lines(cal, eqns_col="eqns_effective")

    spark = get_spark("soak", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    # recentProgress is capped (default 100): raise it past the batch
    # count or rows/percentiles silently undercount (review r7)
    spark.conf.set(
        "spark.sql.streaming.numRecentProgressUpdates", str(n_files + 50)
    )
    state = _StubState()
    srv, port = start_influx_stub(state)
    url = f"http://127.0.0.1:{port}"
    staging = tempfile.mkdtemp(prefix="soak_frames_")
    ckpt = tempfile.mkdtemp(prefix="soak_ckpt_")
    try:
        write_frames(staging, n_frames, n_files)
        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(staging)
            .select(
                F.col("value").alias("raw"),
                F.current_timestamp().alias("ingest_ts"),
            )
        )
        if stateful:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
        if stateful and strategy == "broadcast":
            # broadcast-dim strategy: calibration happens INSIDE
            # foreachBatch (join vs the driver-held compacted dim,
            # refreshed per batch), so the streaming plan itself is
            # stateless — no state store anywhere.  This is cli.py's
            # default sink since the round-8 A/B.
            from aprs2influxdb_spark.sinks.influxdb import (
                influxdb_sink_broadcast_calibrated,
            )

            t0 = time.time()
            q = influxdb_sink_broadcast_calibrated(
                decode_frames(raw), checkpoint=ckpt, url=url, db="soak"
            )
        else:
            lines = _lines(decode_frames(raw))
            t0 = time.time()
            q = influxdb_sink(lines, checkpoint=ckpt, url=url, db="soak")
        while q.isActive:
            q.processAllAvailable()
            if not q.status["isDataAvailable"] and not q.status["isTriggerActive"]:
                break
        wall = time.time() - t0
        prog = [json.loads(p.json) for p in q.recentProgress]
        q.stop()
        with state.lock:  # snapshot before the ref leg reuses the stub
            sink_posts, sink_lines = state.posts, state.lines
        batch_ms = sorted(
            p["durationMs"]["triggerExecution"]
            for p in prog
            if p["numInputRows"] > 0
        )
        rows = sum(p["numInputRows"] for p in prog)

        def pct(v, q_):
            return v[min(len(v) - 1, int(q_ * len(v)))] if v else None

        # ---- reference write-model leg: per-packet POST, serial, a
        # fresh connection each time (urllib opens one per request) —
        # the lines are REAL pipeline output so the bytes are honest
        batch_lines = (
            stream_lines(
                decode_frames(
                    spark.read.text(f"{staging}/frames_0000.txt").select(
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
            "stateful": stateful,
            "strategy": (strategy if stateful else "stateless"),
            "value": round(pipeline_rps, 1),
            "unit": "rows/sec",
            "frames": rows,
            "wall_sec": round(wall, 2),
            "batches": len(batch_ms),
            "batch_ms_p50": pct(batch_ms, 0.50),
            "batch_ms_p99": pct(batch_ms, 0.99),
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
        "--stateful", action="store_true",
        help="run the full cli.py chain with keyed as-of calibration "
        "state (strategy selected by --strategy)",
    )
    ap.add_argument(
        "--strategy", choices=["apws", "tws", "broadcast"], default="apws",
        help="calibration strategy for --stateful: applyInPandasWithState, "
        "transformWithState, or per-batch broadcast dim (round-8 A/B)",
    )
    ap.add_argument(
        "--gate-strategy", choices=["apws", "fold"], default="apws",
        help="gate implementation for --gate lsh: keyed bucket state "
        "(applyInPandasWithState) vs the stateless per-batch "
        "segment-fold (JVM-only; the drain cycle at batch granularity)",
    )
    ap.add_argument(
        "--gate", choices=["none", "lsh"], default="none",
        help="run the drained LSH dedup gate inline (first half of the "
        "corpus = pre-drained epoch index; second half streams through "
        "banding + index probe + keyed state + verdict rollup before "
        "the sink)",
    )
    args = ap.parse_args()
    if args.gate == "lsh":
        out = run_soak_gate(args.frames, args.files, args.gate_strategy)
    else:
        out = run_soak(
            args.frames, args.files, args.ref_frames, args.stateful, args.strategy
        )
    print(json.dumps(out))
