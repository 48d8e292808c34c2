"""Host regime and memory probes, read from /proc.

Every benchmark number carries the regime it was measured in: CPU steal
over the run and the speed of a fixed single-thread loop before and
after it. A slower loop with no steal still means the host was
contended; both travel with the record.
"""

from __future__ import annotations

import os
import threading
import time


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """CPU steal between two cpu_jiffies() samples, in percent."""
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def calibration_s(n: int = 1_000_000) -> float:
    """Seconds one fixed pure-Python loop takes: the host-speed probe.
    The best of three runs, so a single preemption does not count."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of a process tree: resident memory with
    each shared page split among the processes sharing it, so Python
    workers forked from one daemon are not counted once per fork."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process exited while we read
            continue
    return total


class MemSampler:
    """Samples the memory of this process tree (Python driver, the JVM
    it launched, the JVM's Python workers) on a background thread and
    keeps the peak. Use as a context manager."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
