"""Facts about the host recorded with every result, and a multi-process
CPU canary: the same fixed work on one process and on ``nproc``
processes, so a result from a host that cannot deliver its advertised
cores, or is busy with other work, shows it."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time


_BURN = """
import sys, time
start, loops = float(sys.argv[1]), int(sys.argv[2])
time.sleep(max(0.0, start - time.time()))
t0 = time.perf_counter()
x = 0
for i in range(loops):
    x += i * i
print(time.perf_counter() - t0)
"""


def _burn_all(procs: int, loops: int) -> list[float]:
    """Run the loop in ``procs`` fresh interpreters released at the same
    instant; their loop times."""
    start = time.time() + 0.2
    ps = [subprocess.Popen([sys.executable, "-c", _BURN, str(start),
                            str(loops)], stdout=subprocess.PIPE, text=True)
          for _ in range(procs)]
    return [float(p.communicate()[0]) for p in ps]


def cpu_canary(procs: int, loops: int = 1_000_000) -> dict:
    """The same fixed loop on one process, then on ``procs`` processes at
    once; ``delivered_cores`` is procs × single time / slowest parallel
    time (``procs`` on an idle host with that many real cores)."""
    single = _burn_all(1, loops)[0]
    worst = max(_burn_all(procs, loops))
    return {"procs": procs, "single_s": round(single, 4),
            "parallel_max_s": round(worst, 4),
            "delivered_cores": round(procs * single / worst, 2)}


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings (the 8th field is steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set of a process (VmHWM), 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def facts(nproc: int) -> dict:
    import pyspark
    return {"nproc": nproc, "mem_total_kb": mem_total_kb(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "cpu_canary": cpu_canary(nproc)}


def nproc() -> int:
    return len(os.sched_getaffinity(0))
