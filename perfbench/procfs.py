"""Process-tree CPU, RSS and host steal, read from ``/proc``.

psutil is not available, and the work of one benchmark op is spread over
three kinds of process: the driver Python process, the JVM it launches
(every Spark task thread lives there) and the Python UDF workers the JVM
forks. CPU and memory are therefore summed over the whole tree below the
driver, and split by role for the traced run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Proc:
    pid: int
    ppid: int
    comm: str
    state: str  # "Z" for an exited process nobody has reaped yet
    cpu_s: float  # own user+system time
    reaped_cpu_s: float  # user+system time of children it has waited for


def read_proc(pid: int, root: str = "/proc") -> Proc | None:
    """Parse ``/proc/<pid>/stat``; None if the process is gone."""
    try:
        with open(f"{root}/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm is parenthesised and may itself contain spaces or ')'
    head, _, tail = raw.rpartition(")")
    comm = head.partition("(")[2]
    f = tail.split()
    # tail starts at field 3 (state); fields 14..17 are utime, stime,
    # cutime, cstime in clock ticks
    return Proc(
        pid=pid,
        ppid=int(f[1]),
        comm=comm,
        state=f[0],
        cpu_s=(int(f[11]) + int(f[12])) / CLK_TCK,
        reaped_cpu_s=(int(f[13]) + int(f[14])) / CLK_TCK,
    )


def descendants(root_pid: int, root: str = "/proc") -> list[Proc]:
    """``root_pid`` and every live process below it."""
    procs = {}
    for name in os.listdir(root):
        if name.isdigit():
            p = read_proc(int(name), root)
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo.extend(children.get(pid, ()))
    return out


def _role(p: Proc, root_pid: int) -> str:
    """driver_py for the benchmark process itself, py_worker for the
    Python processes below it (the worker daemon and its workers), jvm
    for the JVM and any helper it spawns."""
    if p.pid == root_pid:
        return "driver_py"
    if p.comm.startswith("python"):
        return "py_worker"
    return "jvm"


@dataclass
class TreeSample:
    """CPU-seconds by role (driver_py, jvm, py_worker) at one instant."""

    cpu_s: dict[str, float] = field(default_factory=dict)

    @property
    def total(self) -> float:
        return sum(self.cpu_s.values())

    def minus(self, earlier: TreeSample) -> dict[str, float]:
        return {k: v - earlier.cpu_s.get(k, 0.0) for k, v in self.cpu_s.items()}


def tree_cpu(root_pid: int, root: str = "/proc") -> TreeSample:
    """CPU-seconds consumed so far by the tree, by role.

    Workers that exited and were reaped by their parent still count,
    through the parent's reaped-children time. The driver's own reaped
    children are left out: the only one is the spark-submit launcher,
    which exec's into the JVM and so is never reaped while it runs.
    """
    out = {"driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0}
    for p in descendants(root_pid, root):
        role = _role(p, root_pid)
        out[role] += p.cpu_s
        if role != "driver_py":
            out[role] += p.reaped_cpu_s
    return TreeSample(out)


def _status_kb(pid: int, key: str, root: str = "/proc") -> int:
    try:
        with open(f"{root}/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def tree_rss_mb(root_pid: int, key: str = "VmRSS", root: str = "/proc") -> dict[str, float]:
    """Resident memory by role in MiB. ``key="VmHWM"`` gives each live
    process's own peak, whose sum bounds the tree's peak from above."""
    out = {"driver_py": 0.0, "jvm": 0.0, "py_worker": 0.0}
    for p in descendants(root_pid, root):
        out[_role(p, root_pid)] += _status_kb(p.pid, key, root) / 1024.0
    return out


def cpu_times(root: str = "/proc") -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of ``/proc/stat``."""
    with open(f"{root}/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already inside user/nice, so it is not added again
    total = sum(fields[:8])
    return fields[7], total


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0
