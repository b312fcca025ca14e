"""Benchmark entry point: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Every file it writes goes under
``.perfbench/`` there: the Spark scratch space, the stream checkpoint, the
media store and, with ``--trace 1``, the spans.  The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer ones
(a layer the workload leaves idle reads 0).  A host-speed probe
(``hostspeed.py``) runs beside every run; the end-to-end figures are the
raw ones divided by the host's speed over their window, and the raw ones
are per-layer.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROC0, T_WALL0 = time.perf_counter(), time.time()

import argparse  # noqa: E402 - the clock above starts before any import
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import analytics, ingest  # noqa: E402
from perfbench.hostspeed import HostProbe  # noqa: E402

WORKLOADS = {"ingest_drain": ingest.run, "analytics": analytics.run}
# at the probe's reference host speed; the raw figures are per-layer
END_TO_END = {"throughput_norm_per_s": "1/s", "unit_geomean_norm_s": "s", "setup_s": "s"}
HOST_LAYERS = [
    "raw.throughput_per_s", "raw.unit_geomean_s", "raw.setup_s",
    "host.setup_factor", "host.timed_factor",
]
INGEST_LAYERS = [
    "stream.batch_s", "stream.add_batch_s", "stream.commit_s", "stream.batches",
    "aprsis.read_s", "aprsis.batch_rows", "aprsis.backlog_frames", "gen.lag_s",
    "decode.s", "decode.dead_letters", "calibrate.s", "calibrate.dim_keys", "lines.s",
    "sink.post_s", "sink.posts", "sink.lines_written", "sink.lines_rejected", "sink.retries",
]
QUERY_LAYERS = [f"queries.{k}" for k in ("build_s", "exec_s", "jobs_in_build", "jobs", "shuffle_bytes")] + [
    f"q.{name}.{k}" for name in analytics.ENTRIES for k in ("build_s", "exec_s", "jobs_in_build", "jobs")
]
COMMON_LAYERS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_bytes", "spark.executor_cpu_share",
    "session.start_s", "media_store.ensure_s", "warmup_s", "jvm.peak_rss_mb", "error_rate",
    "trace.overhead_s", "trace.overhead_share",
]
PER_LAYER = INGEST_LAYERS + QUERY_LAYERS + COMMON_LAYERS + HOST_LAYERS


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name == "raw.throughput_per_s":
        return "1/s"
    if name.endswith("_factor"):
        return "ratio"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_share") or name == "error_rate":
        return "ratio"
    return {"spark.shuffle_bytes": "bytes", "queries.shuffle_bytes": "bytes",
            "jvm.peak_rss_mb": "MB"}.get(name, "count")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def configure(work: str) -> None:
    """Session settings that must be in place before the JVM starts: all
    cores, a JVM heap that leaves the machine room, and every scratch
    file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_MEDIA_CACHE"] = os.path.join(work, "media")
    # executors import the program from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell"
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    probe = HostProbe()
    probe.start()
    try:
        return _run(args, probe)
    finally:
        probe.stop()


def _run(args, probe: HostProbe) -> int:
    try:
        import aprs2influxdb_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        log(f"the program is not here to measure: {exc}")
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    configure(work)
    from aprs2influxdb_spark.session import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        res = WORKLOADS[args.workload](
            spark, work, args.seed, args.seconds, bool(args.trace), log
        )
        rss = jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    probe.stop()

    raw = {**res["metrics"], "setup_s": res["warm_at"] - T_PROC0}
    setup_f = probe.factor(T_WALL0, res["window"][0])
    timed_f = probe.factor(*res["window"])
    log(f"host: probe factor {setup_f:.3f} in set-up, {timed_f:.3f} timed")
    if args.trace:
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(res["layers"])
        metrics.update({f"raw.{k}": v for k, v in raw.items()})
        metrics.update({"host.setup_factor": setup_f, "host.timed_factor": timed_f})
        metrics.update({
            "session.start_s": session_s, "warmup_s": res["warmup_s"],
            "jvm.peak_rss_mb": rss, "error_rate": res["failed"] / res["attempted"],
        })
        res["tracer"].write(os.path.join(
            ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"
        ))
    else:
        metrics = {
            "throughput_norm_per_s": raw["throughput_per_s"] * timed_f,
            "unit_geomean_norm_s": raw["unit_geomean_s"] / timed_f,
            "setup_s": raw["setup_s"] / setup_f,
        }
    names = PER_LAYER if args.trace else list(END_TO_END)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": unit(k)} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
