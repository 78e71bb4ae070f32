"""Process-tree CPU, Python-worker peak RSS and hypervisor steal, read
from /proc (Linux)."""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw.rsplit(")", 1)[1].split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        fields = _stat_fields(int(d))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids = children_map()
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and every live descendant,
    plus what each of them collected from children it has reaped
    (cutime/cstime), so workers that already exited still count.

    Sample it before and after a run: the difference is that run's CPU.
    A process that exits and is reaped between the two samples moves its
    CPU from its own fields into its parent's reaped-children fields, so
    the total is unchanged by the exit."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root] + descendants(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after comm: state=0 ... utime=11 stime=12 cutime=13
        # cstime=14
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / CLK_TCK


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        return None
    return None


def python_workers(root: int | None = None) -> list[int]:
    """Python processes below the JVM: the pyspark daemon and its forks."""
    root = os.getpid() if root is None else root
    out = []
    kids = children_map()
    for jvm in kids.get(root, []):
        if "java" not in _comm(jvm):
            continue
        stack = [jvm]
        while stack:
            for c in kids.get(stack.pop(), []):
                if _comm(c).startswith("python"):
                    out.append(c)
                stack.append(c)
    return out


class WorkerRssMonitor:
    """Peak RSS of any Python worker while it is running.

    ``start`` resets each worker's high-water mark (``clear_refs`` 5) and
    a thread then samples ``VmHWM`` ten times a second, so a worker that
    exits between samples still contributes its last reading.  If the
    reset is not permitted the lifetime mark is used, which can only
    over-state the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = None

    def _tick(self) -> None:
        for pid in python_workers():
            kb = _hwm_kb(pid)
            if kb is not None and kb > self.peak_kb:
                self.peak_kb = kb

    def start(self) -> "WorkerRssMonitor":
        for pid in python_workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        self.peak_kb = 0
        self._stop.clear()

        def loop():
            while not self._stop.wait(self.interval):
                self._tick()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)
        self._tick()
        return self.peak_kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already included in user/nice
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0
