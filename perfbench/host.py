"""Host readings that annotate every run: CPU steal from /proc/stat, a
fixed CPU-capacity probe, and peak RSS of this process's descendants."""

from __future__ import annotations

import hashlib
import os
import threading
import time

# 64 MiB hashed per thread.  hashlib releases the GIL for large updates,
# so at width 4 the threads run in parallel and the probe times how much
# of the 4 cores the host actually delivers.
_BUF = bytes(range(256)) * 4096  # 1 MiB
_UPDATES = 64


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def _hash() -> None:
    h = hashlib.md5()
    for _ in range(_UPDATES):
        h.update(_BUF)


def cpu_probe(width: int) -> float:
    """Seconds for *width* threads to each hash 64 MiB."""
    threads = [threading.Thread(target=_hash) for _ in range(width)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def process_start() -> float:
    """Epoch time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _status(pid: int) -> tuple[str, float]:
    """(process name, VmHWM in MB) or ("", 0) once the process is gone."""
    name, hwm = "", 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return name, hwm


def descendant_peaks() -> dict[str, float]:
    """Largest VmHWM (MB) among this process's descendants, by kind:
    ``java`` (the Spark driver JVM) and ``python`` (Spark's Python
    daemon and its workers)."""
    kids = _children()
    stack = list(kids.get(os.getpid(), []))
    peaks = {"java": 0.0, "python": 0.0}
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        name, hwm = _status(pid)
        kind = "java" if name == "java" else (
            "python" if name.startswith("python") else None)
        if kind:
            peaks[kind] = max(peaks[kind], hwm)
    return peaks
