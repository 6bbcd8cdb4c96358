"""Run conditions, read from ``/proc``, so a noisy run identifies itself.

The machine may be shared: CPU steal time (time the hypervisor gave the
vCPUs to someone else), the load average and the CPU used by processes
other than this run all say whether a number was measured on a quiet
box.  The page-cache size at start says whether input files were likely
read from memory.
"""

from __future__ import annotations

import os
import time


def _meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, value = line.split(":", 1)
            out[key] = int(value.split()[0])
    return out


def _cpu_jiffies() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _process_jiffies(pid: int) -> int:
    """utime + stime of a process and its waited-for children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _descendants(root: int) -> list[int]:
    """``root`` and every live process below it (the JVM, Python workers)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every process
    below it: the driver, the JVM and its Python workers.  Time the
    hypervisor or other tenants took from the vCPUs is not in it."""
    ticks = sum(_process_jiffies(p) for p in _descendants(root))
    return ticks / os.sysconf("SC_CLK_TCK")


def page_cache_mb() -> float:
    m = _meminfo()
    return (m.get("Buffers", 0) + m.get("Cached", 0)) / 1024


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Conditions:
    """Snapshot at start; :meth:`finish` adds the over-the-run figures."""

    def __init__(self, seed: int):
        self.seed = seed
        self.t0 = time.monotonic()
        self.cpu0 = _cpu_jiffies()
        self.cache0 = page_cache_mb()
        self.load0 = os.getloadavg()

    def finish(self, spark) -> dict:
        cpu1 = _cpu_jiffies()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(delta[:8]) or 1
        idle = delta[3] + delta[4]
        steal = delta[7] if len(delta) > 7 else 0
        own = sum(_process_jiffies(p) for p in _descendants(os.getpid()))
        nproc = len(os.sched_getaffinity(0))
        conf = spark.sparkContext.getConf()
        busy_other = max(0.0, (total - idle - steal - own) / total)
        out = {
            "seed": self.seed,
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "mem_total_mb": round(_meminfo()["MemTotal"] / 1024),
            "driver_heap": conf.get("spark.driver.memory", "1g"),
            "spark_master": spark.sparkContext.master,
            "spark_version": spark.version,
            "ansi": spark.conf.get("spark.sql.ansi.enabled"),
            "page_cache_mb_start": round(self.cache0, 1),
            "page_cache_mb_end": round(page_cache_mb(), 1),
            "wall_s": round(time.monotonic() - self.t0, 3),
            "cpu_steal_share": round(steal / total, 4),
            # share of all CPU time used outside this run's process tree
            # (workers that exited early count as other: an upper bound)
            "cpu_other_share": round(busy_other, 4),
            "loadavg_start": self.load0,
            "loadavg_end": os.getloadavg(),
        }
        out["noisy"] = bool(out["cpu_steal_share"] > 0.05
                            or out["cpu_other_share"] > 0.10)
        return out
