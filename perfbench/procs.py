"""Process-tree CPU and memory from ``/proc``.

The benchmark's process tree is the driver Python, the JVM it launches,
and the PySpark daemon and workers the JVM forks. A sample walks the
tree from a root pid by parent links and sums, per process:

- CPU: user + system time, plus the time of children it has already
  reaped, so a worker that exits between samples is still counted once
  (through its parent's ``cutime``/``cstime``);
- resident memory as the proportional set size (PSS): each shared page
  is split among the processes that map it, so forked workers, and a
  JVM fork that has not yet exec'd its command, do not count the pages
  they share with their parent again. Reading it walks the page tables
  of the process (about 12 ms for a JVM holding 0.7 GB), so the
  background sampler reads it once a second and the other samples skip
  it.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Proc:
    pid: int
    ppid: int
    start: int  # clock ticks after boot; tells a reused pid apart
    cpu_s: float
    pss: int
    python_worker: bool


@dataclass
class Sample:
    procs: dict[int, Proc] = field(default_factory=dict)

    @property
    def cpu_s(self) -> float:
        return sum(p.cpu_s for p in self.procs.values())

    @property
    def pss(self) -> int:
        return sum(p.pss for p in self.procs.values())

    @property
    def worker_cpu_s(self) -> float:
        return sum(p.cpu_s for p in self.procs.values() if p.python_worker)

    @property
    def workers(self) -> int:
        """PySpark worker processes: forks of a PySpark daemon."""
        return sum(
            1 for p in self.procs.values()
            if p.python_worker and p.ppid in self.procs
            and self.procs[p.ppid].python_worker
        )


def _read_stat(pid: int) -> tuple[int, int, float] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(b")") + 2:].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), int(fields[19]), ticks / CLK_TCK


def _read_pss(pid: int) -> int:
    """PSS in bytes; 0 once the process has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def sample(root: int, pss: bool = True) -> Sample:
    """One snapshot of the tree rooted at ``root``; without ``pss``,
    every process's ``pss`` is 0."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = Sample()
    todo = [root] if root in stats else []
    while todo:
        pid = todo.pop()
        out.procs[pid] = Proc(pid, *stats[pid], _read_pss(pid) if pss else 0,
                              _is_python_worker(pid))
        todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Samples the tree on a background thread, every ``interval``
    seconds and with PSS every ``pss_interval`` seconds; keeps the peak
    PSS, the peak PySpark worker count, and every process seen (pid and
    start time, so leftovers can be reaped at exit)."""

    def __init__(self, root: int | None = None, interval: float = 0.25,
                 pss_interval: float = 1.0):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.pss_interval = pss_interval
        self.peak_pss = 0
        self.peak_workers = 0
        self.seen: dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self, pss: bool = False) -> Sample:
        s = sample(self.root, pss)
        with self._lock:
            self.peak_pss = max(self.peak_pss, s.pss)
            self.peak_workers = max(self.peak_workers, s.workers)
            self.seen.update((p.pid, p.start) for p in s.procs.values())
        return s

    def _loop(self) -> None:
        next_pss = time.monotonic() + self.pss_interval
        while not self._stop.wait(self.interval):
            due = time.monotonic() >= next_pss
            self.sample(pss=due)
            if due:
                next_pss = time.monotonic() + self.pss_interval

    def __enter__(self) -> "TreeSampler":
        self.sample(pss=True)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap(seen: dict[int, int], timeout: float = 20.0) -> list[int]:
    """Terminate every process in ``seen`` (pid -> start time) other
    than this one that is still alive, and wait until each has ended;
    returns the pids that had to be terminated."""
    import signal

    def alive(pid: int) -> bool:  # a zombie has ended; its parent reaps it
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                fields = f.read().rsplit(b")", 1)[1].split()
        except OSError:
            return False
        return fields[0] != b"Z" and int(fields[19]) == seen[pid]

    left = [p for p in seen if p != os.getpid() and alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    for p in left:
        while alive(p):
            try:  # reap our own children; init reaps the others
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
            if time.monotonic() > deadline:
                os.kill(p, signal.SIGKILL)
                deadline += timeout
            time.sleep(0.05)
    return left
