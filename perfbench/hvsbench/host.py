"""Host facts and process accounting, read from /proc.

- ``fingerprint`` / ``load_snapshot``: what a result is recorded with, so a
  noisy run (steal, load from neighbours) can be told apart from a regression.
- ``tree_peak_rss_bytes`` / ``tree_pss_without``: resident memory of this
  process and every process it started (the Spark JVM and its Python
  workers).
- ``stop_tree``: end every descendant process and wait for it.
"""

from __future__ import annotations

import os
import platform
import signal
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def fingerprint() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "cpu_model": cpu_model(),
        "nproc": nproc(),
        "mem_total_gb": round(mem_total_gb(), 2),
        "kernel": platform.release(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def load_snapshot() -> dict:
    """/proc/loadavg and the aggregate cpu line of /proc/stat (ticks)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return {"loadavg": load, "cpu_ticks": sum(cpu), "steal_ticks": cpu[7] if len(cpu) > 7 else 0}


def steal_share(before: dict, after: dict) -> float:
    total = after["cpu_ticks"] - before["cpu_ticks"]
    return (after["steal_ticks"] - before["steal_ticks"]) / total if total > 0 else 0.0


def process_age_s() -> float:
    """Seconds since this process was started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), counted after "comm)"
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass  # exited while we looked
    return 0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: each shared page is charged to its sharers in
    equal parts, so forked Python workers are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass  # exited while we looked
    return 0


def tree_pss_without(exclude_comm: str) -> int:
    """Summed PSS of this process tree, leaving out processes whose command
    name is ``exclude_comm``."""
    me = os.getpid()
    total = 0
    for p in [me, *descendants(me)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == exclude_comm:
                    continue
        except OSError:
            continue
        total += _pss_bytes(p)
    return total


def tree_peak_rss_bytes() -> int:
    """Summed peak RSS (``VmHWM``, kept by the kernel) of this process and
    every descendant still running."""
    me = os.getpid()
    return sum(_status_kb(p, "VmHWM") for p in [me, *descendants(me)]) * 1024


def stop_tree(timeout: float = 30.0) -> None:
    """TERM every descendant still running, KILL what outlives ``timeout``,
    and reap direct children."""
    me = os.getpid()
    pids = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            _reap()
            pids = descendants(me)
            if not pids:
                return
            time.sleep(0.1)
    _reap()


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
