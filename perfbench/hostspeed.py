"""A host-speed probe that runs beside the benchmark, so that its timed
figures can be put at one reference speed of the machine's host.

The machine is a few cores of a shared host whose speed changes under
the benchmark: a fixed piece of single-threaded Python work takes up to
twice its usual CPU time, in spells of seconds to minutes, and the
program's wall times follow (of ten runs of the same code, the slowest
took 2.5 times as long as the fastest).  The probe is a child process
that does such a fixed piece of work (a loop of integer arithmetic,
about 3 ms) every 40 ms and records the CPU time it took, with the
wall-clock time it started.  CPU time, not wall time, so that the
program's own load, which only delays the probe, does not read as a slow
host.  :meth:`HostProbe.factor` is the median of those CPU times over a
window, divided by :data:`REF_CHUNK_S`: above 1 the host ran slower than
the reference, below 1 faster.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys

# CPU seconds one piece of the probe's work takes in the fast spells of
# a 4-core virtual machine; only the ratio to it is ever used
REF_CHUNK_S = 0.003

_PROBE = r"""
import json, select, sys, time

def work():
    s = 0
    for i in range(40_000):
        s += i * i % 7
    return s

out = []
while True:
    t, c = time.time(), time.process_time()
    work()
    out.append((t, time.process_time() - c))
    if select.select([sys.stdin], [], [], 0.04)[0]:
        break
json.dump(out, sys.stdout)
"""


class HostProbe:
    """Start with :meth:`start`; :meth:`stop` ends the child, waits for it
    and keeps its samples."""

    def __init__(self) -> None:
        self._proc: subprocess.Popen | None = None
        self.samples: list[tuple[float, float]] = []

    def start(self) -> None:
        self._proc = subprocess.Popen(
            [sys.executable, "-c", _PROBE],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def stop(self) -> None:
        if self._proc is None:
            return
        try:
            out, _ = self._proc.communicate("stop\n", timeout=30)
            self.samples = [tuple(s) for s in json.loads(out)]
        finally:
            if self._proc.poll() is None:
                self._proc.kill()
                self._proc.wait()
            self._proc = None

    def chunk_s(self, t_from: float, t_to: float) -> float:
        """Median CPU seconds of the probe's pieces started in the window
        (``time.time()`` readings)."""
        inside = [c for t, c in self.samples if t_from <= t <= t_to]
        if not inside:
            raise RuntimeError("the host probe took no sample in the window")
        return statistics.median(inside)

    def factor(self, t_from: float, t_to: float) -> float:
        return self.chunk_s(t_from, t_to) / REF_CHUNK_S
