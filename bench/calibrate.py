"""Machine scaling-ceiling calibration for the N vs 4N protocol.

The sandbox is one shared VM: /proc reports 32 CPUs, but sustained
all-core throughput is capped by the host (co-tenancy / power), so even
an embarrassingly parallel pure-CPU burn does not speed up 4x from N to
4N workers. This module measures that ceiling with a zero-dependency
burn (no Spark, no memory pressure, no shuffle) so the frontier
benchmark's raw efficiency can be reported next to the physically
achievable ceiling measured in the same time window.

Protocol: for each (n, 4n) pair, run the burn at n procs then 4n procs
back-to-back; ceiling = (tput_4n / tput_n) / 4. A Spark job can never
beat the burn's scaling on this box — the burn has zero coordination,
zero shuffle, zero driver.

TWO ceilings, because the box has two independent shared resources:

- ``ceiling``     : pure-CPU arithmetic (the original burn). The right
  bound for compute-dominated stages (codecs, hashing, codegen).
- ``mem_ceiling`` : a streaming numpy triad (a = b*s + c) over arrays
  far larger than L3, i.e. DRAM-bandwidth-bound work with zero
  coordination. The right bound for byte-moving stages — shuffle
  write/read, cache materialization, columnar (de)compression — whose
  per-task CPU time inflates when N procs share one memory bus. The
  round-3 stage profile (BENCH/stage_profile_r4.json) showed exactly this:
  every schedule-pipeline stage's wall shrinks only ~2x at 4x cores
  while its summed task CPU inflates 1.4-2.6x; the CPU burn (1.15x
  inflation) cannot explain that, the memory burn does.
"""

from __future__ import annotations

import multiprocessing as mp
import time


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def _throughput(procs: int, iters: int) -> float:
    with mp.Pool(procs) as pool:
        pool.map(_burn, [2_000_000] * procs)  # warm the pool (fork cost out)
        t0 = time.time()
        pool.map(_burn, [iters] * procs)
        wall = time.time() - t0
    return procs * iters / wall


def _mem_burn(args) -> float:
    """One worker's streaming triad over `mb` MiB of float64 for
    `reps` passes; returns bytes moved. Arrays >> L3 so every pass
    streams DRAM (3 reads + 1 write per element under numpy temps)."""
    mb, reps = args
    import numpy as np

    n = mb * 1024 * 1024 // 8
    b = np.ones(n)
    c = np.ones(n)
    a = np.empty(n)
    moved = 0
    for _ in range(reps):
        np.multiply(b, 1.000001, out=a)
        a += c
        moved += 3 * n * 8
    return moved


def _mem_throughput(procs: int, mb: int, reps: int) -> float:
    with mp.Pool(procs) as pool:
        pool.map(_mem_burn, [(mb, 1)] * procs)  # warm pool + allocators
        t0 = time.time()
        moved = sum(pool.map(_mem_burn, [(mb, reps)] * procs))
        wall = time.time() - t0
    return moved / wall


def mem_ceiling(n: int, mb: int = 192, reps: int = 12) -> dict:
    """Measured DRAM-bandwidth scaling ceiling for n -> 4n workers."""
    t_n = _mem_throughput(n, mb, reps)
    t_4n = _mem_throughput(4 * n, mb, reps)
    return {
        "procs_n": n,
        "procs_4n": 4 * n,
        "mem_gbps_n": round(t_n / 1e9, 2),
        "mem_gbps_4n": round(t_4n / 1e9, 2),
        "mem_ceiling": round((t_4n / t_n) / 4.0, 3),
    }


def ceiling(n: int, iters: int = 120_000_000) -> dict:
    """Measured scaling ceiling for n -> 4n workers on this box."""
    t_n = _throughput(n, iters)
    t_4n = _throughput(4 * n, iters)
    return {
        "procs_n": n,
        "procs_4n": 4 * n,
        "burn_tput_n": round(t_n / 1e6, 1),
        "burn_tput_4n": round(t_4n / 1e6, 1),
        "ceiling": round((t_4n / t_n) / 4.0, 3),
    }


if __name__ == "__main__":
    import json
    import sys

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    print(json.dumps(ceiling(n)))
    print(json.dumps(mem_ceiling(n)))
