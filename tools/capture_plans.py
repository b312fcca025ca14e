"""Capture the physical plans of registry entries into
``<outdir>/<name>_<tag>.txt`` — evidence files for plan claims.

    python tools/capture_plans.py before multimodal_jpeg_color bootstrap_ci
    python tools/capture_plans.py after  --sf /root/testdata/sf0.1 <names...>

Batch entries get ``explain("formatted")`` of the returned frame.
Streaming entries (``streaming_*``) RUN the bounded stream and return
its memory sink, whose batch plan would show only the sink scan; for
them the builder runs to completion and the file holds ``explain()`` of
the last query it started (every ``DataStreamWriter.start`` handle is
kept) — the last executed micro-batch's plan, state operator and
exchanges included.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("tag")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--outdir", default="plans")
    args = ap.parse_args(argv)

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from aprs2influxdb_spark.queries import registry
    from aprs2influxdb_spark.session import get_spark

    started = []
    real_start = DataStreamWriter.start

    def start(self, *a, **k):
        started.append(real_start(self, *a, **k))
        return started[-1]

    DataStreamWriter.start = start
    try:
        spark = get_spark("capture-plans")
        spark.sparkContext.setLogLevel("ERROR")
        os.makedirs(args.outdir, exist_ok=True)
        reg = registry()
        for name in args.names:
            df = reg[name][0](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                if name.startswith("streaming_"):
                    started[-1].explain()
                else:
                    df.explain("formatted")
            path = os.path.join(args.outdir, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"{name}: wrote {path}")
    finally:
        DataStreamWriter.start = real_start
    return 0


if __name__ == "__main__":
    sys.exit(main())
