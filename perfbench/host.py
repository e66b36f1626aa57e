"""Host facts and process-tree accounting, read from /proc.

The engine runs as three kinds of process: the driver Python process that
imports the package, the JVM it launches, and the Python workers the JVM
forks. CPU and memory of a job are the sums over that tree, so a saving
that moves work from one kind of process to another does not hide.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: RssSampler's sampling period in seconds, and how many samples share one
#: walk of /proc for the pid set (the walk costs far more than the statm reads)
_RSS_INTERVAL = 0.1
_RSS_REFRESH = 5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    """Physical memory, or the cgroup limit when that is smaller."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its descendants that are alive now."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class RssSampler:
    """Samples the tree's summed RSS and its largest Python worker on a
    background thread. ``peak`` is (tree, driver, all Python workers) in
    bytes at the tree's peak."""

    def __init__(self, root: int):
        self.root = root
        self.peak = (0, 0, 0)
        self.peak_worker = 0
        self.max_workers = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        n = 0
        pids: list[int] = []
        workers: set[int] = set()
        while True:
            if n % _RSS_REFRESH == 0:
                pids = tree_pids(self.root)
                workers = {p for p in pids if is_python_worker(p)}
                self.max_workers = max(self.max_workers, len(workers))
            sizes = {p: rss_bytes(p) for p in pids}
            self.peak = max(self.peak, (sum(sizes.values()), sizes[self.root],
                                        sum(sizes[p] for p in workers)))
            self.peak_worker = max([self.peak_worker] + [sizes[p] for p in workers])
            n += 1
            if self._stop.wait(_RSS_INTERVAL):
                return

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def facts() -> dict:
    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_total_bytes() / 2**20),
        "loadavg1": loadavg1(),
    }
