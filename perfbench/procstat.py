"""Process-tree CPU and memory from ``/proc``, sampled on a thread.

Spark's own counters see JVM task threads only. The Python workers a
``mapInPandas`` or ``applyInPandas`` stage forks spend their CPU where
only an OS-level walk sees it, the same walk ``bench.py`` uses. A
sampler thread reads every descendant of a root process: CPU seconds
(utime + stime) and resident memory. A worker that dies between two
samples keeps the CPU it had at its last sample, so a window
undercounts by at most one sampling interval per dead process.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_procs() -> dict[int, tuple[int, str, float]]:
    """pid → (ppid, comm, cpu seconds) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        f = tail.split()
        comm = head.split("(", 1)[1]
        out[int(name)] = (int(f[1]), comm, (int(f[11]) + int(f[12])) / _HZ)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE / 2**20
    except (OSError, ValueError, IndexError):
        return 0.0


def descendants(root: int) -> dict[int, tuple[int, str, float]]:
    """The processes below ``root`` (root included)."""
    procs = _read_procs()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out[pid] = procs[pid]
        stack.extend(children.get(pid, ()))
    return out


def _is_worker(pid: int, tree: dict) -> bool:
    """A Python process with a JVM among its ancestors: a PySpark
    daemon or worker (the driver's own Python sits above the JVM)."""
    if not tree[pid][1].startswith("python"):
        return False
    p = tree[pid][0]
    while p in tree:
        if tree[p][1] == "java":
            return True
        p = tree[p][0]
    return False


class TreeSampler:
    """Samples the process tree under ``root`` every ``interval`` s.

    ``mark()`` opens a window and returns its id; ``window(id)`` reads
    the tree CPU, the Python-worker CPU and the peak worker RSS since
    that mark. Windows may nest and overlap. When ``root`` is this
    process, the CPU the sampling spends (its ``/proc`` walk, on the
    sampler thread and on the caller's) is left out of ``cpu_s``."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self._lock = threading.Lock()
        self._cpu: dict[int, float] = {}  # last CPU seen per pid
        self._worker: set[int] = set()
        self._own_cpu = 0.0  # CPU the sampling itself spent in this process
        self._marks: list[tuple[dict[int, float], float, list[float]]] = []
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        t0 = time.thread_time()
        tree = descendants(self.root)
        workers = {p for p in tree if _is_worker(p, tree)}
        rss = max((_rss_mb(p) for p in workers), default=0.0)
        with self._lock:
            for pid, (_, _, cpu) in tree.items():
                self._cpu[pid] = cpu
            if self.root == os.getpid():  # the walk's own CPU is in the tree
                self._own_cpu += time.thread_time() - t0
            self._worker |= workers
            self.seen |= set(tree)
            for _, _, peak in self._marks:
                peak[0] = max(peak[0], rss)

    def mark(self) -> int:
        self.sample()
        with self._lock:
            self._marks.append((dict(self._cpu), self._own_cpu, [0.0]))
            return len(self._marks) - 1

    def window(self, mark: int) -> dict[str, float]:
        """→ {cpu_s, py_cpu_s, peak_worker_rss_mb} since ``mark``."""
        self.sample()
        with self._lock:
            base, own, peak = self._marks[mark]
            delta = {p: c - base.get(p, 0.0) for p, c in self._cpu.items()}
            return {
                "cpu_s": sum(delta.values()) - (self._own_cpu - own),
                "py_cpu_s": sum(v for p, v in delta.items() if p in self._worker),
                "peak_worker_rss_mb": peak[0],
            }


def _alive(pid: int) -> bool:
    """Running and not a zombie (an orphan's zombie waits on init)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def reap(pids, grace: float = 20.0) -> None:
    """Wait until every pid in ``pids`` has exited; SIGKILL whatever is
    left after ``grace`` seconds, then wait for that too."""
    pids = {p for p in pids if p != os.getpid()}
    deadline = time.monotonic() + grace
    while True:
        alive = {p for p in pids if _alive(p)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)
