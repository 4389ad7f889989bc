"""Host facts and process-tree accounting, read from /proc.

The benchmark runs the driver, the Spark JVM and the Python workers as one
process tree rooted at this interpreter.  CPU-seconds and resident memory are
summed over that tree; steal and load average are read machine-wide so that a
run hit by a noisy neighbour shows up as one.
"""

from __future__ import annotations

import os
import platform

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(mem_mb: int) -> int:
    """Driver heap: a sixteenth of the host's memory, between 1 and 4 GiB.

    Local mode runs every executor inside the driver JVM, so this is the
    whole Spark heap.  The inputs are tens of megabytes; the cap keeps the
    benchmark small on a shared host."""
    return max(1024, min(4096, mem_mb // 16))


def noise_snapshot() -> dict:
    """Machine-wide steal ticks, total ticks and load average, right now."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    ticks = [int(x) for x in cpu]
    with open("/proc/loadavg") as f:
        load1, load5, load15 = (float(x) for x in f.read().split()[:3])
    return {
        "steal_ticks": ticks[7] if len(ticks) > 7 else 0,
        "total_ticks": sum(ticks),
        "load1": load1,
        "load5": load5,
        "load15": load15,
    }


def noise_between(start: dict, end: dict) -> dict:
    """Steal share of all CPU ticks between two snapshots, plus both loads."""
    total = max(end["total_ticks"] - start["total_ticks"], 1)
    return {
        "steal_pct": round(100.0 * (end["steal_ticks"] - start["steal_ticks"]) / total, 3),
        "load1_start": start["load1"],
        "load1_end": end["load1"],
    }


def host_facts() -> dict:
    import pyspark

    mem = mem_total_mb()
    return {
        "nproc": nproc(),
        "mem_total_mb": mem,
        "driver_memory_mb": driver_memory_mb(mem),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may contain spaces; fields after the closing paren are positional
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all of its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_seconds(root: int | None = None) -> float:
    """CPU of the tree in seconds: user+system time, including reaped
    children."""
    ticks = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (proc(5) fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM), in MiB."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
