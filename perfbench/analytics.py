"""The ``analytics`` workload: registry entries built and executed one at a
time by one client (a closed loop), with no ingest running.

The entries read the reference tables at scale 0.01 (60,000 line items),
shipped in ``perfbench/data/sf0.01``.  Set-up starts the session, builds the
media store the image entry reads (timed on its own as
``media_store.ensure_s``) and makes one warm-up pass, in which every entry's
rows are collected and checked against its DuckDB oracle SQL.  The timed
window then repeats whole passes, in a seed-fixed order, each entry built
and executed with a ``noop`` write, while the next pass fits in the window,
and at least once.  The traced run adds one pass with a job group per build
and per execution.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import statistics
import time

from perfbench.ledger import Tracer

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# build-bound (eager Spark jobs while the query is built), execution-bound, light
ENTRIES = [
    "image_dup_clusters", "contamination_report", "minhash_lsh_pairs",
    "multimodal_jpeg_color", "region_revenue",
    "pricing_summary", "asof_calibration", "time_bucket_agg", "line_protocol", "cosine_topk",
]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9) + 0.0)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return repr(v)


def canon(rows, cols) -> list[tuple]:
    """Order-insensitive row set with columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_mismatch(df, sql: str, ddb) -> str | None:
    """None when the Spark result equals the DuckDB oracle's, else why not."""
    s_cols = [c.lower() for c in df.columns]
    s_rows = [tuple(r) for r in df.collect()]
    res = ddb.execute(sql)
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {s_cols} vs {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows vs {len(d_rows)}"
    if canon(s_rows, s_cols) != canon(d_rows, d_cols):
        return "values differ"
    return None


def run(spark, work_dir: str, seed: int, seconds: float, trace: bool, log) -> dict:
    import duckdb

    from aprs2influxdb_spark.media_store import ensure_image_store
    from aprs2influxdb_spark.queries import registry

    reg = registry()
    order = random.Random(seed).sample(ENTRIES, len(ENTRIES))
    t0 = time.perf_counter()
    ensure_image_store(spark, SF_DIR)  # the store lives under the run's work dir
    t_warm = time.perf_counter()
    ensure_s = t_warm - t0

    ddb = duckdb.connect()
    for t in TABLES:
        ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    failed: list[str] = []
    for name in order:  # the warm-up pass, which is also the output check
        build, sql = reg[name]
        try:
            why = oracle_mismatch(build(spark, SF_DIR), sql, ddb)
        except Exception as exc:  # noqa: BLE001 - a failing entry is a counted failure
            why = f"{type(exc).__name__}: {exc}"
        if why:
            failed.append(name)
            log(f"analytics: {name} failed its check: {why}")
    ddb.close()
    warm_at = time.perf_counter()

    # whole passes that fit in the window, and at least one
    passes: list[dict[str, tuple[float, float]]] = []
    t_end = time.perf_counter() + seconds
    win_from = time.time()
    while not passes or time.perf_counter() + sum(map(sum, passes[-1].values())) <= t_end:
        passes.append(_noop_pass(spark, reg, order))
    window = (win_from, time.time())
    totals = [sum(b + e for b, e in p.values()) for p in passes]
    metrics = {
        "throughput_per_s": statistics.median(len(order) / t for t in totals),
        "unit_geomean_s": statistics.median(
            statistics.geometric_mean(b + e for b, e in p.values()) for p in passes
        ),
    }
    log(f"analytics: media store {ensure_s:.1f} s, warm-up {warm_at - t_warm:.1f} s, "
        f"timed passes {[round(t, 3) for t in totals]} s")
    out = {
        "attempted": len(order) * (1 + len(passes)), "failed": len(failed),
        "warmup_s": warm_at - t_warm, "warm_at": warm_at, "window": window,
        "metrics": metrics, "layers": {"media_store.ensure_s": ensure_s}, "tracer": None,
    }
    if trace:
        layers, out["tracer"] = _traced_pass(spark, reg, order, statistics.median(totals))
        out["layers"].update(layers)
    return out


def _noop_pass(spark, reg, order) -> dict[str, tuple[float, float]]:
    """Build and execute every entry once; (build, execute) seconds each."""
    times = {}
    for name in order:
        t1 = time.perf_counter()
        df = reg[name][0](spark, SF_DIR)
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times[name] = (t2 - t1, time.perf_counter() - t2)
    return times


def _traced_pass(spark, reg, order, untraced_total_s: float) -> tuple[dict, Tracer]:
    tracer = Tracer(spark)
    t0 = time.perf_counter()
    for name in order:
        with tracer.span("build", name):
            df = reg[name][0](spark, SF_DIR)
        with tracer.span("exec", name):
            df.write.format("noop").mode("overwrite").save()
    traced_s = time.perf_counter() - t0
    tracer.resolve()
    layers = {
        "trace.overhead_s": traced_s - untraced_total_s,
        "trace.overhead_share": (traced_s - untraced_total_s) / untraced_total_s,
        **tracer.spark_metrics(),
    }
    totals = dict.fromkeys(("build_s", "exec_s", "jobs_in_build", "jobs", "shuffle_bytes"), 0.0)
    for name, (build, exe) in ((n, tuple(s)) for n, s in tracer.by_trace().items()):
        entry = {
            "build_s": build.wall_s, "exec_s": exe.wall_s,
            "jobs_in_build": build.counts["jobs"],
            "jobs": build.counts["jobs"] + exe.counts["jobs"],
        }
        for k, v in entry.items():
            layers[f"q.{name}.{k}"] = v
            totals[k] += v
        totals["shuffle_bytes"] += build.counts["shuffle_bytes"] + exe.counts["shuffle_bytes"]
    layers.update({f"queries.{k}": v for k, v in totals.items()})
    return layers, tracer
