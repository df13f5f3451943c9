"""Host facts read from /proc: heap sizing, CPU steal, and a sampler for
the RSS and CPU time of this process's descendants (the driver JVM and
its Python workers)."""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
TICKS = os.sysconf("SC_CLK_TCK")


def meminfo_kb(path: str = "/proc/meminfo") -> dict[str, int]:
    out = {}
    with open(path) as f:
        for line in f:
            key, _, rest = line.partition(":")
            out[key] = int(rest.split()[0])
    return out


def driver_heap_mb(mem_total_kb: int, share: float = 0.25, cap_mb: int = 2048) -> int:
    """A quarter of physical RAM, capped at 2 GB: never sized above RAM,
    and the benchmark's inputs are tens of MB."""
    return max(512, min(cap_mb, int(mem_total_kb * share / 1024)))


def read_cpu_ticks(path: str = "/proc/stat") -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line."""
    with open(path) as f:
        for line in f:
            if line.startswith("cpu "):
                vals = [int(v) for v in line.split()[1:]]
                # user nice system idle iowait irq softirq steal guest guest_nice;
                # guest time is already counted inside user/nice
                return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)
    raise ValueError(f"no aggregate cpu line in {path}")


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def _children_map(proc: str) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int, proc: str = "/proc") -> list[int]:
    kids = _children_map(proc)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_bytes(pid: int, proc: str) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it. Python workers are forked from one
    daemon, so summing their plain RSS would count the shared pages once
    per worker. Falls back to RSS where smaps_rollup is missing."""
    try:
        with open(f"{proc}/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    with open(f"{proc}/{pid}/statm") as f:
        return int(f.read().split()[1]) * PAGE


def proc_sample(pid: int, proc: str = "/proc") -> tuple[int, int] | None:
    """(resident bytes, cpu ticks incl. reaped children) of one process."""
    try:
        with open(f"{proc}/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        mem = _pss_bytes(pid, proc)
    except (OSError, IndexError, ValueError):
        return None
    # fields[0] is state (stat field 3): utime=14 stime=15 cutime=16 cstime=17
    cpu = sum(int(v) for v in fields[11:15])
    return mem, cpu


def tree_sample(root: int, proc: str = "/proc") -> tuple[int, int]:
    """Summed (resident bytes, cpu ticks) over ``root``'s descendants. A child
    that exits between two samples is still counted: its parent reaps it
    and its time moves into the parent's cutime/cstime."""
    rss = cpu = 0
    for pid in descendants(root, proc):
        s = proc_sample(pid, proc)
        if s:
            rss += s[0]
            cpu += s[1]
    return rss, cpu


class TreeSampler:
    """Background sampler of the descendant tree's RSS. ``window()``
    brackets a measured region: peak RSS and CPU seconds inside it."""

    def __init__(self, root: int | None = None, period_s: float = 0.1, proc: str = "/proc"):
        self.root = root if root is not None else os.getpid()
        self.period = period_s
        self.proc = proc
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            rss, _ = tree_sample(self.root, self.proc)
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._run, name="tree-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def begin(self) -> int:
        """Reset the peak; return the tree CPU ticks now."""
        rss, cpu = tree_sample(self.root, self.proc)
        with self._lock:
            self._peak = rss
        return cpu

    def end(self, cpu_before: int) -> tuple[int, float]:
        """(peak rss bytes since ``begin``, cpu seconds since ``begin``)."""
        rss, cpu = tree_sample(self.root, self.proc)
        with self._lock:
            peak = max(self._peak, rss)
        return peak, (cpu - cpu_before) / TICKS
