"""CPU time, peak memory and co-tenant pressure of a process tree, read
from /proc (Linux only).

A Spark run is a tree: this driver process, the JVM it launches, the
Python worker daemon the JVM forks and the workers the daemon forks.
The daemon ignores SIGCHLD, so the kernel reaps its workers without
adding their CPU time to any parent's cutime: a worker's time is gone
from /proc the moment it exits.  `TreeStats` therefore keeps, for every
process it has seen, that process's own utime+stime and peak resident
set as last sampled, and sums over all of them, dead or alive.  Sampled
after every operation, this loses only what a process used between its
last sample and its exit.

Making this process a child subreaper lets it wait for every process of
the tree when the run ends, including workers orphaned by the JVM.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt orphaned descendants of this process (see module doc)."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


@dataclass
class Proc:
    comm: str
    ppid: int
    own_ticks: int  # utime + stime of the process itself
    start: int  # start time in ticks since boot; tells reused pids apart


def _read_stat(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    head, _, tail = raw.rpartition(b")")
    fields = tail.split()
    # fields[0] is the state (stat field 3); fields[k] is stat field k + 3
    return Proc(
        comm=head.split(b"(", 1)[1].decode(errors="replace"),
        ppid=int(fields[1]),
        own_ticks=int(fields[11]) + int(fields[12]),
        start=int(fields[19]),
    )


def tree(root: int | None = None) -> dict[int, Proc]:
    """`root` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_stat(int(name))
            if p is not None:
                procs[int(name)] = p
    children: dict[int, list[int]] = {}
    for pid, p in procs.items():
        children.setdefault(p.ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def own_cpu_s() -> float:
    """CPU seconds of this process alone."""
    t = os.times()
    return t.user + t.system


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def role_of(pid: int, comm: str, root: int) -> str:
    if pid == root:
        return "driver_py"
    if comm == "java":
        return "jvm"
    return "python_workers"


class TreeStats:
    """CPU seconds and summed peak RSS of a process tree, counting the
    processes that have exited since they were last sampled."""

    def __init__(self, root: int | None = None):
        self.root = os.getpid() if root is None else root
        self._ticks: dict[tuple[int, int], int] = {}
        self._hwm: dict[tuple[int, int], tuple[str, int]] = {}

    def sample(self) -> None:
        for pid, p in tree(self.root).items():
            key = (pid, p.start)
            self._ticks[key] = p.own_ticks
            role = role_of(pid, p.comm, self.root)
            old = self._hwm.get(key, (role, 0))[1]
            self._hwm[key] = (role, max(old, _vm_hwm_kb(pid)))

    def cpu_s(self) -> float:
        """Samples the tree, then returns its CPU seconds so far."""
        self.sample()
        return sum(self._ticks.values()) / CLK_TCK

    def peak_mb(self) -> dict[str, float]:
        """Summed per-process peaks in MiB: 'total' and one per role."""
        out = {"total": 0.0, "driver_py": 0.0, "jvm": 0.0, "python_workers": 0.0}
        for role, kb in self._hwm.values():
            out[role] += kb / 1024.0
            out["total"] += kb / 1024.0
        return out


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Pressure:
    """Box-wide CPU shares over an interval: hypervisor steal, and busy
    time of processes outside the tree that `stats` follows."""

    def __init__(self, stats: TreeStats):
        self.stats = stats
        self._cpu0 = _cpu_line()
        self._tree0 = stats.cpu_s()

    def shares(self) -> dict[str, float]:
        cpu1 = _cpu_line()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        # user nice system idle iowait irq softirq steal [guest guest_nice]
        total = max(sum(d[:8]), 1)
        busy = d[0] + d[1] + d[2] + d[5] + d[6]
        ours = (self.stats.cpu_s() - self._tree0) * CLK_TCK
        return {
            "steal_share": round(d[7] / total, 4),
            "outside_busy_share": round(max(busy - ours, 0) / total, 4),
        }


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every child of this process (adopted orphans included);
    after `timeout_s`, kill the remaining descendants and wait again."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in tree():
                if p != os.getpid():
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            deadline = float("inf")
        time.sleep(0.05)
