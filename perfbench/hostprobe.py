"""Host speed: a fixed pure-Python task timed on every core at once.

On the 4-vCPU VM the benchmark was tuned on, every workload ran up to a
third slower for minutes at a time, with no CPU steal reported, and its
cold set-up slowed with it.  ``run.py`` times this probe while no Spark JVM
or Python worker of the run is alive (before the set-up and after the
teardown), multiplies ``files_per_s`` by ``scale`` of the probe time and
divides ``setup_s`` by it, so that a slow spell of the host does not read as
a slower program.  The probe is
benchmark code only; no change to the program moves it.
"""

from __future__ import annotations

import multiprocessing
import time

LOOPS = 6000  # one task: about 0.2 s with every core busy on the VM above
REF_S = 0.2  # a task's time on the reference host; files_per_s and setup_s are scaled to it
# How far the benchmark's times follow the probe's.  Over ten to fifteen
# seeds per workload on the VM above, the log-log slope against the probe time was
# 0.36-0.65 for job rates and 0.57-0.97 for set-up; scaling by the full
# ratio made the quartile spread of files/s wider than no scaling did, by
# its square root narrower than either.
ELASTICITY = 0.5
TEXT = " ".join(f"w{i % 97}" for i in range(400))


def _task(loops: int) -> float:
    """Split, hash and join text, as the kernels do; returns its seconds."""
    t0 = time.perf_counter()
    acc = 0
    for _ in range(loops):
        words = TEXT.split()
        acc += len(set(words)) + len("-".join(words[::3]))
    return time.perf_counter() - t0


def scale(probe_s: float) -> float:
    """How much faster the reference host runs the benchmark than a host
    whose probe task takes ``probe_s``."""
    return (probe_s / REF_S) ** ELASTICITY


def probe(procs: int, rounds: int) -> list[float]:
    """Seconds of every task: ``rounds`` rounds of ``procs`` concurrent tasks.
    A first, discarded round wakes the cores: on the VM above the first
    round after an idle spell ran three times slower than the next."""
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        pool.map(time.sleep, [0.3] * procs, chunksize=1)  # every worker is up
        pool.map(_task, [LOOPS] * procs, chunksize=1)
        return [t for _ in range(rounds) for t in pool.map(_task, [LOOPS] * procs, chunksize=1)]
    finally:
        pool.close()
        pool.join()
