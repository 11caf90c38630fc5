"""Process-tree CPU time from ``/proc`` (stdlib only).

The benchmark's driver process starts the Spark JVM, and the JVM starts the
Python Arrow workers, so the CPU a pass costs is spread over three kinds of
process. ``sample()`` sums utime+stime over every live process descended
from this one, split by kind. Children that already exited and were reaped
inside the tree are counted through their reaper's cutime+cstime, so the
sum only grows and a delta between two samples is the CPU spent in between.

The JVM's JIT compiler threads are counted apart (``jit_s``, and not in
``jvm_s``): compiling is a warm-up cost whose timing varies from run to run,
not work a pass does. The JVM must run with
``-XX:-UseDynamicNumberOfCompilerThreads`` so that those threads never exit
and their time never moves into the process total.

``steal_s`` and ``busy_s`` are the machine's steal and busy CPU time from
``/proc/stat``, summed over its CPUs. Steal is time in which a vCPU had work
but the hypervisor ran other guests instead; an idle vCPU accrues none. So
``stolen`` = steal / (busy + steal) is the share of this machine's runnable
time that was lost, and wall x (1 - stolen) is the wall time the same work
would take on a host of its own. On a shared host steal swings from run to
run and stretches wall time with it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class CpuSample:
    driver_s: float
    jvm_s: float
    py_s: float
    jit_s: float
    busy_s: float
    steal_s: float

    @property
    def total_s(self) -> float:
        """CPU of the work itself: everything but the JIT compiler."""
        return self.driver_s + self.jvm_s + self.py_s

    @property
    def stolen(self) -> float:
        """Share of the machine's runnable CPU time lost to steal."""
        return stolen(self.busy_s, self.steal_s)

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        return CpuSample(
            self.driver_s - other.driver_s,
            self.jvm_s - other.jvm_s,
            self.py_s - other.py_s,
            self.jit_s - other.jit_s,
            self.busy_s - other.busy_s,
            self.steal_s - other.steal_s,
        )


def _read_stat(pid: str) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of one process, or of
    one thread when ``pid`` is ``<pid>/task/<tid>``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listdir and open
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is state (field 3 of stat(5)); utime..cstime are fields 14-17
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, comm, ticks / _TICK


def _jit_cpu(pid: int) -> float:
    """CPU seconds of one JVM's C1/C2 compiler threads."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        st = _read_stat(f"{pid}/task/{tid}")
        if st is not None and st[1].startswith(("C1 Compiler", "C2 Compiler")):
            total += st[2]
    return total


def host() -> tuple[float, float]:
    """(busy, steal) CPU seconds so far, summed over the machine's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # "cpu user nice system idle iowait irq softirq steal ..."
    user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in fields[1:9])
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


def stolen(busy_s: float, steal_s: float) -> float:
    """Share of runnable CPU time lost to steal over an interval."""
    return steal_s / (busy_s + steal_s) if busy_s + steal_s > 0 else 0.0


def _table() -> dict[int, tuple[int, str, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int | None = None) -> dict[int, tuple[int, str, float]]:
    """Live processes in the tree under ``root`` (default: this process),
    ``root`` included."""
    root = os.getpid() if root is None else root
    table = _table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            tree[pid] = table[pid]
            todo.extend(children.get(pid, ()))
    return tree


def sample() -> CpuSample:
    """CPU seconds so far of this process (driver), of the JVM processes
    under it, and of everything the JVM started (Python workers)."""
    me = os.getpid()
    tree = descendants(me)
    driver = jvm = py = jit = 0.0
    jvm_pids = {pid for pid, (_, comm, _) in tree.items() if comm == "java"}
    for pid, (ppid, _, cpu) in tree.items():
        if pid == me:
            driver += cpu
        elif pid in jvm_pids:
            compile_s = _jit_cpu(pid)
            jit += compile_s
            jvm += cpu - compile_s
        else:
            # walk up: anything under a JVM is a Python worker; the rest
            # (e.g. a launcher shell) is charged to the driver
            p, under_jvm = ppid, False
            while p in tree and p != me:
                if p in jvm_pids:
                    under_jvm = True
                    break
                p = tree[p][0]
            if under_jvm:
                py += cpu
            else:
                driver += cpu
    return CpuSample(driver, jvm, py, jit, *host())


def wait_gone(pids: set[int], timeout_s: float = 60.0) -> set[int]:
    """Poll until none of ``pids`` exists; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        if alive:
            time.sleep(0.1)
    return alive
