"""Process-tree CPU and memory meter, plus the host counters stamped on a run.

The benchmark process makes itself a child subreaper, so a descendant whose
parent exits (an orphaned Python worker, a daemon fork) is re-parented to
the benchmark instead of to init.  :meth:`TreeMeter.reap` waits for those
orphans, which moves their CPU into this process's ``RUSAGE_CHILDREN``.

Tree CPU = own rusage + reaped children's rusage + for every live
descendant its ``utime + stime + cutime + cstime`` from ``/proc``.  A
descendant's CPU is counted as its own time while it lives and moves into
its parent's ``cutime`` (or into ours) when it is reaped, so the total never
drops.  A sample whose descendant set changed while ``/proc`` was being read
is retaken, which closes the window where a reap could be seen twice or not
at all.
"""

from __future__ import annotations

import ctypes
import os
import resource
import threading

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Adopt orphaned descendants; returns False where prctl is unavailable."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                               ctypes.c_ulong, ctypes.c_ulong]
        libc.prctl.restype = ctypes.c_int
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _read_stats() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, state, cpu_ticks incl. reaped children, rss_pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while listing
        # comm may contain spaces and parens; the fields start after the last ')'
        fields = raw.rsplit(")", 1)[1].split()
        ticks = int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
        out[int(name)] = (int(fields[1]), fields[0], ticks, int(fields[21]))
    return out


def _descendants(stats: dict[int, tuple[int, str, int, int]], root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in stats.items():
        children.setdefault(ppid, []).append(pid)
    seen: set[int] = set()
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in seen:
                seen.add(c)
                todo.append(c)
    return seen


def _own_rusage_s() -> float:
    me = resource.getrusage(resource.RUSAGE_SELF)
    ch = resource.getrusage(resource.RUSAGE_CHILDREN)
    return me.ru_utime + me.ru_stime + ch.ru_utime + ch.ru_stime


class TreeMeter:
    """CPU seconds and resident bytes of this process and all descendants."""

    def __init__(self) -> None:
        self.me = os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.keep: set[int] = set()  # direct children owned by a Popen
        self._lock = threading.Lock()

    def reap(self) -> int:
        """Wait for zombie children we adopted; returns how many."""
        n = 0
        for pid, (ppid, state, _t, _r) in _read_stats().items():
            if ppid == self.me and state == "Z" and pid not in self.keep:
                try:
                    os.waitpid(pid, os.WNOHANG)
                    n += 1
                except ChildProcessError:
                    pass
        return n

    def sample(self) -> tuple[float, int]:
        """(tree CPU seconds, tree RSS bytes)."""
        with self._lock:
            self.reap()
            # only this thread reaps our own children, so our rusage cannot
            # jump during the walk; a reap inside the tree changes its set
            for _ in range(8):
                stats = _read_stats()
                tree = _descendants(stats, self.me)
                if tree == _descendants(_read_stats(), self.me):
                    break
            cpu = _own_rusage_s() + sum(stats[p][2] for p in tree) / self.tick
            rss = (stats.get(self.me, (0, "", 0, 0))[3] + sum(stats[p][3] for p in tree)) * self.page
            return cpu, rss

    def live_descendants(self) -> set[int]:
        return _descendants(_read_stats(), self.me)


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` in bytes."""

    def __init__(self, meter: TreeMeter, interval_s: float = 1.0) -> None:
        self.meter = meter
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            _cpu, rss = self.meter.sample()
            self.peak = max(self.peak, rss)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def steal_ticks() -> int:
    """Host-wide hypervisor steal ticks so far (``/proc/stat`` cpu line)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock start time of a process, from ``/proc``."""
    pid = pid or os.getpid()
    with open(f"/proc/{pid}/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")
