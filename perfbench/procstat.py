"""Process-tree CPU and memory, read from /proc. The tree is this process
and every descendant: the Spark JVM, the PySpark daemon and its Python
workers. The host steal and calibration probes are bench.py's."""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after "(comm)"; index 0 is the state, 1 the parent pid
    return s[s.rfind(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(name)
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    total = 0
    for pid in pids or tree_pids():
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _HZ


def tree_rss_mb(pids: list[int] | None = None) -> float:
    """Resident memory of the tree. Forked Python workers share pages with
    their parent, so this sums PSS (shared pages split between sharers)."""
    total_kb = 0
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total_kb / 1024


class RssSampler:
    """Samples the tree's resident memory on a thread; `peak_mb` is the
    largest sum seen since `reset()`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def reset(self) -> None:
        self.peak_mb = tree_rss_mb()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def process_age_s() -> float:
    """Seconds since this process started."""
    start_ticks = int(_stat_fields("self")[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _HZ
