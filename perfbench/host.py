"""Host-side records read from /proc: summed PSS of this process tree (the
driver, the JVM it launches and the Python workers under the JVM), CPU steal,
load and one core's speed. Read only; nothing on the machine is changed."""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def tree_pss_mb(root: int) -> tuple[float, float]:
    """Summed PSS of the process tree under ``root`` -> (JVM, everything else)."""
    kb = [0, 0]
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                jvm = f.read().strip() == "java"
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb[0 if jvm else 1] += int(line.split()[1])
                        break
        except OSError:  # the process ended between listing and reading
            continue
    return kb[0] / 1024.0, kb[1] / 1024.0


def cpu_steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK  # cpu user nice system idle iowait irq softirq steal


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_loop_s(n: int = 2_000_000, repeat: int = 3) -> float:
    """Fastest of ``repeat`` timings of a fixed pure-Python loop: one core's
    speed as this process sees it. The same code on the same host has read
    over twice as slow in some periods as in others, with little CPU steal."""
    best = float("inf")
    for _ in range(repeat):
        t = time.perf_counter()
        s = 0
        for i in range(n):
            s += i * i
        best = min(best, time.perf_counter() - t)
    return best


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class PssSampler:
    """Background thread sampling the process tree's summed PSS: peaks of the
    whole tree, of the JVM and of the Python processes (driver + workers)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_python_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            jvm, py = tree_pss_mb(root)
            self.peak_mb = max(self.peak_mb, jvm + py)
            self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
            self.peak_python_mb = max(self.peak_python_mb, py)
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class HostWindow:
    """CPU steal seconds and 1-minute load over a timed window."""

    def __enter__(self) -> "HostWindow":
        self.steal0, self.load0, self.t0 = cpu_steal_s(), loadavg_1m(), time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        self.record = {
            "window_s": time.monotonic() - self.t0,
            "steal_s": cpu_steal_s() - self.steal0,
            "load_1m_start": self.load0,
            "load_1m_end": loadavg_1m(),
        }
