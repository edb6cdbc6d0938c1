"""Resources of the benchmark's process tree, read from ``/proc``: this
process, the Spark JVM it launched and the JVM's Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def tree_pids() -> set[int]:
    """This process and all its descendants."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, pp in parent.items():
            if pp == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def peak_rss_mb(pids: set[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def _cpu_s(pids: set[int]) -> float:
    """User plus system CPU seconds of ``pids`` with their ended threads
    and ended children."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime: fields 14-17 of proc(5)
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


#: thread names of the JVM's just-in-time compilers; the session starts
#: the JVM with a fixed set of them, so none ends and takes its time along
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuMeter:
    """CPU seconds of a process tree, less the JVM's compiler threads.

    On a virtual machine, CPU time leaves out the time the host ran
    something else on the virtual CPUs (steal), which wall time does not.
    Compiling is left out because a fresh JVM keeps compiling for minutes
    and the amount per pass depends on timing, not on the work."""

    def __init__(self, pids: set[int]) -> None:
        self.pids = pids
        self._names: dict[tuple[int, str], str] = {}

    def _compiler_s(self, pid: int) -> float:
        total = 0
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return 0.0
        for tid in tids:
            key = (pid, tid)
            try:
                if key not in self._names:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        self._names[key] = f.read().strip()
                if self._names[key].startswith(_COMPILER_THREADS):
                    with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                        total += int(f.read().split()[0])
            except OSError:
                continue
        return total / 1e9

    def read(self) -> float:
        return _cpu_s(self.pids) - sum(self._compiler_s(p) for p in self.pids)
