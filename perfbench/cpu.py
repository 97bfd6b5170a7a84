"""CPU time of the benchmark's process tree, less JIT compilation."""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file."""
    try:
        with open(path, encoding="ascii", errors="replace") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


class CpuClock:
    """CPU seconds used by this process and all its descendants (the Spark
    JVM, its Python daemon and workers; reaped children included), less
    the JVM's JIT compiler threads.

    Unlike wall time, this does not grow while a thread waits for a core
    another tenant of the machine holds. The JIT compiler threads are left
    out because a JVM this young spends 4-20 CPU seconds per pass
    compiling, in bursts that the engine does not control."""

    def __init__(self) -> None:
        self._jit: dict[tuple[int, int], int] = {}  # (pid, tid) -> ticks

    def read(self) -> float:
        parent: dict[int, int] = {}
        ticks: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit() and (st := _stat_fields(f"/proc/{entry}/stat")) is not None:
                parent[int(entry)] = int(st[1][1])
                ticks[int(entry)] = sum(int(x) for x in st[1][11:15])
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo += children.get(pid, [])
            if pid != os.getpid():
                self._read_jit_threads(pid)
        # a compiler thread that exits keeps its last reading here, so its
        # ticks stay subtracted from the process total that still holds them;
        # run.py keeps compiler threads alive, so none exits unseen
        return (total - sum(self._jit.values())) / _CLK_TCK

    def _read_jit_threads(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            st = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if st is not None and "CompilerThre" in st[0]:
                self._jit[(pid, int(tid))] = int(st[1][11]) + int(st[1][12])
