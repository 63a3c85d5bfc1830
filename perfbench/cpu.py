"""CPU time of this process and every process under it (the driver JVM
and its Python workers), read from ``/proc``.

A pass's CPU time is the benchmark's steady measure of its cost.  Its
wall time moves with how much CPU the host's other guests take: the
hypervisor's steal is not charged to any process, so CPU time does not
see it.  The JVM's JIT compiler threads are counted apart.  Spark
generates and loads new classes for the queries it runs, so the JVM
compiles throughout a run, not only at its start, and that work follows
the JVM's age and the host's speed, not the pass.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

TICK_S = 1 / os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a ``stat`` file, or None when the
    process or thread has exited."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def _ticks(fields: list[str], reaped: bool) -> int:
    """utime + stime, and with ``reaped`` the waited-for children's."""
    return sum(map(int, fields[11:15 if reaped else 13]))


@dataclass
class Snapshot:
    total_s: float = 0.0  # the tree, with the children each has reaped
    jit_s: dict[tuple[int, int], float] = field(default_factory=dict)


def tree_pids(root: int) -> set[int]:
    """``root`` and every live process under it."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(f"/proc/{d}/stat")
            if st:
                parent[int(d)] = int(st[1][1])
    mine, frontier = set(), {root}
    while frontier:
        mine |= frontier
        frontier = {p for p, pp in parent.items()
                    if pp in frontier and p not in mine}
    return mine


def snapshot() -> Snapshot:
    snap = Snapshot()
    for pid in tree_pids(os.getpid()):
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        snap.total_s += _ticks(st[1], reaped=True) * TICK_S
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            t = _stat(f"/proc/{pid}/task/{tid}/stat")
            if t and t[0].startswith(JIT_THREADS):
                snap.jit_s[(pid, int(tid))] = _ticks(t[1], False) * TICK_S
    return snap


def jit_s(a: Snapshot, b: Snapshot) -> float:
    """CPU seconds the JIT compiler threads used between ``a`` and
    ``b``.  A compiler thread that exited in between is missed."""
    return sum(v - a.jit_s.get(k, 0.0) for k, v in b.jit_s.items())


def work_s(a: Snapshot, b: Snapshot) -> float:
    """CPU seconds the tree used between ``a`` and ``b``, without its
    JIT compiler threads."""
    return b.total_s - a.total_s - jit_s(a, b)
