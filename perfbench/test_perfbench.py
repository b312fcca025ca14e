"""The benchmark's own tests: the frame generator is deterministic, the host
probe samples and stops, and one tiny run of each workload, in each mode, prints every metric of BENCHMARK.json
by name with its unit and passes its output checks.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench.frames import SEQ_RE, FrameSource
from perfbench.hostspeed import HostProbe

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_frames_are_deterministic():
    a, b = FrameSource(7), FrameSource(7)
    assert a.priming_frames() == b.priming_frames()
    assert a.frames(500, start=100) == b.frames(500, start=100)
    assert FrameSource(8).frames(500, start=100) != a.frames(500, start=100)


def test_frames_carry_their_sequence_numbers():
    frames = FrameSource(3).frames(300, start=4000)
    for i, f in enumerate(frames):
        assert int(SEQ_RE.search(f.encode()).group(1)) == 4000 + i


def test_frames_cover_every_reference_format():
    from aprs2influxdb_spark.schema import KNOWN_FORMATS
    from aprs2influxdb_spark.sources.aprsis import parse_frame

    src = FrameSource(5)
    formats = {(parse_frame(f) or {}).get("format") for f in src.priming_frames() + src.frames(2000)}
    assert set(KNOWN_FORMATS) | {None, "third-party"} <= formats


def test_host_probe_samples_and_stops():
    probe = HostProbe()
    t0 = time.time()
    probe.start()
    time.sleep(0.5)
    probe.stop()
    assert len(probe.samples) >= 5
    assert probe.factor(t0, time.time()) > 0
    with pytest.raises(RuntimeError):
        probe.factor(0, 1)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    spec = _spec()
    out = subprocess.run(
        [sys.executable, *spec["command"][1:], "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
