"""Host-speed controls: one fixed pure-Python loop, at 1 and at N processes.

This module imports nothing from kgkit, so no change to the program can
move these numbers.  When a workload metric and these controls shift
together between two sets of runs, the host changed, not the code.
"""

from __future__ import annotations

import multiprocessing as mp
import time

SPIN_ITERS = 1_000_000


def spin(iters: int) -> int:
    acc = 0
    for i in range(iters):
        acc = (acc + i * i) % 1_000_003
    return acc


def host_controls(nproc: int, iters: int = SPIN_ITERS) -> dict:
    """Walls of ``spin(iters)`` in this process and in ``nproc`` processes
    at once (forked before the clock starts).  Fork, not spawn: spawn
    starts a resource-tracker process that outlives the pool."""
    t0 = time.perf_counter()
    spin(iters)
    one = time.perf_counter() - t0
    pool = mp.get_context("fork").Pool(nproc)
    try:
        pool.map(spin, [1] * nproc, chunksize=1)
        t0 = time.perf_counter()
        pool.map(spin, [iters] * nproc, chunksize=1)
        many = time.perf_counter() - t0
    finally:
        pool.close()
        pool.join()
    return {"host.spin_1proc_s": one, "host.spin_nproc_s": many}
