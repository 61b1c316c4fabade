"""Core-speed sampling, to express wall times at a fixed reference speed.

The benchmark runs on a few cores of a shared host, whose speed per core
drifts by up to 2x over seconds to minutes as other tenants load it: a
fixed interpreter loop takes anywhere from 0.3 to 0.6 s on the same core.
That drift moves every wall time of a run together and swamps any change
in the program. So a background thread times a fixed loop (about 10 ms of
CPU) every quarter second, by its own thread CPU time, which excludes the
time the thread waits for a core. A wall time measured over ``[t0, t1]``
is then reported at the reference speed:

    wall_s * REF_LOOP_S / median(loop CPU time sampled in [t0, t1])

i.e. as the seconds it would have taken on a core that runs the loop in
``REF_LOOP_S``. The raw wall times stay in the run's detail line.
"""

from __future__ import annotations

import bisect
import threading
import time

from stats import median

LOOP_N = 200_000
REF_LOOP_S = 0.010
PERIOD_S = 0.25
# fewer samples than this inside an interval: widen it to its neighbours
MIN_SAMPLES = 8


def loop_cpu_s() -> float:
    """Thread CPU time of a fixed integer loop."""
    c0 = time.thread_time()
    x = 0
    for i in range(LOOP_N):
        x += i
    return time.thread_time() - c0


class CoreSpeed:
    """Background sampler of the loop's CPU time, as ``(wall clock, s)``."""

    def __init__(self):
        self.times: list[float] = []
        self.loops: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="core-speed", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            # loop before time, so that every time read has its loop
            self.loops.append(loop_cpu_s())
            self.times.append(time.time())
            self._stop.wait(PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def scale(self, t0: float, t1: float) -> float:
        """``REF_LOOP_S`` over the median loop time sampled in ``[t0, t1]``."""
        return scale_factor(self.times, self.loops, t0, t1)

    def at_ref(self, wall_s: float, t0: float, t1: float) -> float:
        return wall_s * self.scale(t0, t1)


def scale_factor(times, loops, t0: float, t1: float, min_samples: int = MIN_SAMPLES) -> float:
    """``REF_LOOP_S / median(loops sampled in [t0, t1])``. An interval with
    fewer than ``min_samples`` samples is widened symmetrically, sample by
    sample, until it has them (or holds every sample)."""
    if not loops:
        raise ValueError("no core-speed samples")
    lo = bisect.bisect_left(times, t0)
    hi = bisect.bisect_right(times, t1)
    while hi - lo < min(min_samples, len(loops)):
        if lo > 0:
            lo -= 1
        if hi < len(loops) and hi - lo < min_samples:
            hi += 1
    return REF_LOOP_S / median(loops[lo:hi])
