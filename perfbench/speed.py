"""Host speed probe: a child process that times a fixed piece of pure
Python work in CPU seconds, a few milliseconds every tenth of a second.

A benchmark that shares its host with other virtual machines runs at a
speed that changes from second to second: the same loop takes 20% more
or less CPU time, depending on what the host's other tenants do. The
probe's median over a timed region tells how fast the host was during it.
It uses about 6% of one core, in a process outside those the benchmark
measures.

    python3 perfbench/speed.py      # prints "<monotonic s> <cpu s>" lines
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time

PERIOD_S = 0.1
#: CPU seconds of one piece of work on the reference host.
REFERENCE_WORK_S = 0.006
#: Fewest samples a region's median is taken over; a shorter region is
#: widened on both sides until it holds this many.
MIN_SAMPLES = 5


def work() -> None:
    x = 0
    for i in range(40_000):
        x = (x * 31 + i) & 0xFFFFFFFF


def main() -> None:
    parent = os.getppid()
    while os.getppid() == parent:
        c0 = time.process_time()
        work()
        c = time.process_time() - c0
        print(f"{time.monotonic():.6f} {c:.9f}", flush=True)
        time.sleep(PERIOD_S)


class Probe:
    """Runs ``main`` in a child process and keeps its samples."""

    def __init__(self):
        self.samples: list[tuple[float, float]] = []
        self.proc = subprocess.Popen(
            [sys.executable, __file__], stdout=subprocess.PIPE, text=True)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            t, c = line.split()
            self.samples.append((float(t), float(c)))

    def scale(self, t0: float, t1: float) -> float:
        """Reference over actual host speed between two ``time.monotonic()``
        readings: ``REFERENCE_WORK_S`` over the median CPU seconds of one
        piece of work in that region. Multiplying a time measured in the
        region by it gives the time on the reference host."""
        samples = list(self.samples)
        if len(samples) < MIN_SAMPLES:
            raise RuntimeError(f"the speed probe gave {len(samples)} samples")
        while True:
            inside = [c for t, c in samples if t0 <= t <= t1]
            if len(inside) >= MIN_SAMPLES:
                return REFERENCE_WORK_S / statistics.median(inside)
            t0, t1 = t0 - PERIOD_S, t1 + PERIOD_S

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait()
        self.reader.join()


if __name__ == "__main__":
    main()
