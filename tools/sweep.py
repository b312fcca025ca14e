"""Full-registry oracle sweep at an arbitrary scale factor.

Runs EVERY ``queries()`` entry side-by-side with its DuckDB
``oracle_sql()`` twin at the given sf directory and reports row-count /
column / order-insensitive value mismatches — the same comparison the
driver's correctness gate performs, but over the whole registry instead
of a sample, and at any scale::

    python tools/sweep.py /root/testdata/sf0.01
    python tools/sweep.py /root/testdata/sf0.1 --only merge_upsert scd2_intervals

Exit status 0 iff zero mismatches.  This is the script behind the
"three-scale value-exact sweep" recorded in COVERAGE.md.
"""

from __future__ import annotations

import argparse
import sys
import time

import duckdb

sys.path.insert(0, ".")

# single source of truth for value canonicalization: the CI gate's own
# comparator — a drift between sweep and gate rules would make the
# sweep report clean results the real gate would flag
from tests.test_oracle_parity import _canon  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _tee_stderr() -> list:
    """Mirror fd 2 through a pipe so the sweep can assert its OWN log
    is CodeGenerator-clean at exit (round 11, verdict-r10 minor #2: a
    janino compile failure means Spark silently abandons whole-stage
    codegen for that stage — a multi-× slowdown on a hot path at scale
    that only ever surfaces as one ERROR line in the noise).  The JVM
    writes to fd 2 directly, so a Python-level redirect can't see it;
    dup2-ing the fd through a pump thread captures it while still
    forwarding every byte to the real stderr."""
    import os
    import threading

    real = os.dup(2)
    r, w = os.pipe()
    os.dup2(w, 2)
    os.close(w)
    buf: list = []

    def pump() -> None:
        with os.fdopen(r, "rb", 0) as rf:
            for chunk in iter(lambda: rf.read(65536), b""):
                buf.append(chunk)
                os.write(real, chunk)

    threading.Thread(target=pump, daemon=True).start()
    return buf


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    stderr_buf = _tee_stderr()  # BEFORE the JVM launches

    from aprs2influxdb_spark.queries import registry
    from aprs2influxdb_spark.session import get_spark

    # cores and driver memory come from SPARK_GRAFT_CPUS /
    # SPARK_DRIVER_MEMORY, as for the tests and the bench
    spark = get_spark("oracle-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    reg = registry()
    names = args.only if args.only else sorted(reg)
    bad = []
    for name in names:
        builder, sql = reg[name]
        t0 = time.time()
        try:
            sdf = builder(spark, args.sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
            if sql is None:
                print(
                    f"{name:34s} rows-only  n={len(s_rows)}  {time.time()-t0:.1f}s",
                    flush=True,
                )
                continue
            res = con.execute(sql)
            d_cols = [c[0].lower() for c in res.description]
            d_rows = res.fetchall()
            # POSITIONAL comparison — stricter than the driver's gate
            # (which sorts columns by name before hashing): a column-
            # order drift between the Spark query and its oracle is
            # authoring sloppiness this sweep should surface even
            # though the gate itself would forgive it
            if s_cols != d_cols:
                bad.append((name, f"columns {s_cols} vs {d_cols}"))
            elif len(s_rows) != len(d_rows):
                bad.append((name, f"rowcount {len(s_rows)} vs {len(d_rows)}"))
            else:
                sc, dc = _canon(s_rows, s_cols), _canon(d_rows, d_cols)
                if sc != dc:
                    mism = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
                    bad.append((name, f"values {mism}"))
            status = "FAIL" if bad and bad[-1][0] == name else "ok"
            print(
                f"{name:34s} {status}  n={len(s_rows)}  {time.time()-t0:.1f}s",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 — sweep must report, not die
            bad.append((name, f"error {exc!r}"))
            print(f"{name:34s} ERROR {exc!r}", flush=True)
    # the log gate: any CodeGenerator compile failure during the sweep
    # is a finding, exactly like a value mismatch — fallbacks must not
    # creep in silently (results are unaffected, throughput is)
    log_text = b"".join(stderr_buf).decode("utf-8", errors="replace")
    n_codegen = log_text.count("ERROR CodeGenerator")
    if n_codegen:
        bad.append(("<log>", f"{n_codegen} CodeGenerator compile failure(s)"))
    print(
        f"\nswept {len(names)} entries, {len(bad)} mismatches "
        f"(codegen errors: {n_codegen})",
        flush=True,
    )
    for name, why in bad:
        print(f"  {name}: {why[:300]}", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
