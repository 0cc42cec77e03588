"""Host facts recorded beside every run: load average, steal share, two
single-core speed probes, and the memory the Spark driver may take.

These values are recorded only; no run is ever dropped because of them.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading

# Fixed-shape single-core probes: a DRAM triad over arrays far larger than
# any last-level cache (bandwidth phase, GB/s) and an L2-resident loop
# (frequency phase, Mop/s). Two runs at the same host speed read within a
# few percent of each other.
BW_PROBE = r"""
import json, time
import numpy as np
n = 32 * 1024 * 1024          # 3 x 256 MB float64
a = np.ones(n); b = np.ones(n); c = np.empty(n)
np.multiply(b, 2.0, out=c); c += a
best = 0.0
for _ in range(3):
    t0 = time.perf_counter()
    np.multiply(b, 2.0, out=c)       # read b, write c      -> 16n bytes
    c += a                           # read c+a, write c    -> 24n bytes
    dt = time.perf_counter() - t0
    best = max(best, 40.0 * n / dt / 1e9)
print(json.dumps({"bw_gbs": round(best, 2)}))
"""

CPU_PROBE = r"""
import json, time
import numpy as np
x = np.linspace(0.0, 1.0, 100_000)   # 800 KB
y = x.copy()
for _ in range(5):
    y = y * 0.999 + 0.001
best = 0.0
for _ in range(3):
    t0 = time.perf_counter()
    for _ in range(200):
        y = np.sin(y) * 0.5 + 0.25
    dt = time.perf_counter() - t0
    best = max(best, 200 * len(x) / dt / 1e6)
print(json.dumps({"cpu_mops": round(best, 1)}))
"""


def run_probe(code: str, key: str) -> float | None:
    """Run one probe pinned to core 0; None if it could not run."""
    cmd = [sys.executable, "-c", code]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", "0", *cmd]
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=60).stdout
    except (OSError, subprocess.TimeoutExpired):
        return None
    for line in out.splitlines():
        if line.startswith("{"):
            return json.loads(line)[key]
    return None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """Heap for the local-mode JVM: 40% of RAM, leaving the rest to the
    Python workers, the page cache and the OS."""
    return f"{max(1024, int(mem_total_mb() * 0.4))}m"


def host_record() -> dict:
    return {
        "cores": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "loadavg": list(os.getloadavg()),
        "bw_gbs": run_probe(BW_PROBE, "bw_gbs"),
        "cpu_mops": run_probe(CPU_PROBE, "cpu_mops"),
    }


def _tree_rss_kb(root: int) -> int:
    """Resident set of `root` and all its descendants (the JVM and the
    Python workers), from /proc."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        rss[int(d)] = int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return sum(rss.get(p, 0) for p in tree)


class RssSampler:
    """Peak resident memory of this process tree, sampled every `period` s
    on a background thread between `start()` and `stop()`."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0
