"""Host-speed calibration kernel.

A fixed amount of numpy and pure-Python work, run at once on as many
processes as Spark has cores.  It imports nothing from the program and
starts no Spark, so its time moves only with the host: how fast the
cores are right now and how much else runs on them.  A run's timed
phases divided by (kernel seconds / REF_WALL_S) are its normalized
times, which a host twice as slow during the run would leave unchanged.

REF_WALL_S and REF_CPU_S are the rounded medians of the kernel calls
(3 processes each) made while the benchmark was tuned on a 4-vCPU host.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import time

REF_WALL_S = 0.4
REF_CPU_S = 1.0


def kernel(seed: int) -> float:
    """One worker's share; returns its own CPU seconds."""
    import numpy as np

    c0 = time.process_time()
    rng = np.random.default_rng(seed)
    a = rng.standard_normal((160, 160))
    for _ in range(100):
        a = np.tanh(a @ a.T / 160.0)
    np.sort(rng.standard_normal(1_500_000))
    words = [f"w{i % 977}" for i in range(500_000)]
    counts: dict[str, int] = {}
    for w in words:
        counts[w] = counts.get(w, 0) + len(w.upper())
    "|".join(sorted(counts)).split("|")
    return time.process_time() - c0


class Calibrator:
    """A pool of ``procs`` spawned workers that stays up for the run,
    so that each calibration measures the kernel, not process start."""

    def __init__(self, procs: int):
        # one BLAS thread per worker, like Spark's Python workers
        for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
            os.environ.setdefault(v, "1")
        self.procs = procs
        self._pool = mp.get_context("spawn").Pool(procs)
        self._pool.map(kernel, range(procs))  # import numpy in every worker
        self.samples: list[dict] = []

    def pids(self) -> set[int]:
        return {p.pid for p in self._pool._pool}

    def measure(self) -> dict:
        t0 = time.perf_counter()
        cpu = sum(self._pool.map(kernel, range(self.procs)))
        s = {"wall_s": time.perf_counter() - t0, "cpu_s": cpu}
        self.samples.append(s)
        return s

    def close(self) -> None:
        self._pool.terminate()
        self._pool.join()


def ratio(samples: list[dict]) -> tuple[float, float]:
    """(wall, cpu) slowdown of the host over a run, relative to the
    reference host (> 1 means slower now): the median of the kernel
    calls made around the run's timed phases.  The median of several
    calls damps the kernel's own call-to-call noise, which a ratio per
    phase would copy into every normalized time."""
    import statistics

    return (statistics.median(s["wall_s"] for s in samples) / REF_WALL_S,
            statistics.median(s["cpu_s"] for s in samples) / REF_CPU_S)
