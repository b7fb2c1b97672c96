"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark worker, the Spark JVM it launches and the
JVM's Python daemon and workers. CPU time of a tree member that has
exited is still counted once its parent has reaped it (``cutime`` and
``cstime``).
"""

from __future__ import annotations

import glob
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """The command name and the fields after it (from ``state`` on)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    end = raw.rindex(")")
    return raw[raw.index("(") + 1:end], raw[end + 2:].split()


def tree(root: int) -> dict[int, tuple[str, list[str]]]:
    """``_stat`` of ``root`` and all of its descendants."""
    stats: dict[int, tuple[str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, st) in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads."""
    ticks = 0
    for task in glob.glob(f"/proc/{pid}/task/*/stat"):
        try:
            with open(task, "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
        except OSError:  # the thread exited
            continue
        if raw[raw.index("(") + 1:raw.rindex(")")].startswith(
                ("C1 Compiler", "C2 Compiler")):
            ticks += sum(int(x) for x in raw[raw.rindex(")") + 2:].split()[11:13])
    return ticks


def cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of the tree rooted at ``root``,
    including reaped children, but not the JVM's JIT compiler threads:
    their work falls as the JVM warms up and varies from run to run."""
    total = 0
    for pid, (comm, st) in tree(root).items():
        # fields 14-17 of stat: utime stime cutime cstime (index 11-14 here)
        total += sum(int(x) for x in st[11:15])
        if comm.startswith("java"):
            total -= _jit_ticks(pid)
    return total / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited
        pass
    return 0


def rss_mb(root: int) -> dict[str, float]:
    """Resident memory in MiB of the tree's ``java`` and ``python``
    processes, summed per command name.

    Each process counts its proportional set size: a page shared by n
    processes counts 1/n in each, so the Python workers forked from
    Spark's daemon do not count the daemon's pages again. Other tree
    members are left out: the JVM starts helpers (``chmod``, ``bash``) by
    vfork, and until the exec such a child reports the JVM's memory as
    its own."""
    out: dict[str, float] = {}
    for pid, (comm, _) in tree(root).items():
        if comm.startswith(("java", "python")):
            out[comm] = out.get(comm, 0.0) + _pss_kb(pid) / 1024
    return out


class PeakRss:
    """Samples the tree's RSS on a background thread. ``peak_mb`` is the
    highest summed sample seen; ``peak_by_command`` holds, per command
    name, the highest sample of that command's share; ``cpu_s`` is the CPU
    time the sampling thread has used, which is part of the tree's. Use as
    a context manager."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_command: dict[str, float] = {}
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            sample = rss_mb(self.root)
            self.peak_mb = max(self.peak_mb, sum(sample.values()))
            for comm, mb in sample.items():
                self.peak_by_command[comm] = max(
                    self.peak_by_command.get(comm, 0.0), mb)
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
