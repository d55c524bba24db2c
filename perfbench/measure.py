"""Process-tree measurements taken from outside the engine.

The tree is this benchmark process and every descendant: the Spark JVM
and the Python workers it forks. Resident memory is sampled in a
background thread and summed over the tree as proportional set size, so
pages that forked processes share are counted once in total (the JVM's
is read as its resident size, see `tree_pss`). CPU time
is utime + stime of every live process in the tree plus what they have
reaped from exited children.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# seconds between two samples of the tree's resident memory
SAMPLE_EVERY_S = 0.2


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_pss(root: int) -> dict[str, int]:
    """Resident bytes of the tree, summed per command name. Each process
    counts its proportional set size: pages shared with its fork parent
    (a forked Python worker, a JVM child before `exec`) are split between
    the sharers instead of counted once per process.

    The JVM forks no process that shares its pages, so its resident size
    (`statm`) stands for its proportional one: reading its `smaps_rollup`
    walks the page tables of its whole heap, which took 78 ms of CPU per
    sample with the 3 GB heap touched, 28% of a core at one sample every
    0.2 s, in this process and holding its GIL."""
    out: dict[str, int] = {}
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            if comm == "java":
                with open(f"/proc/{p}/statm") as f:
                    size = int(f.read().split()[1]) * _PAGE
            else:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    size = next(int(line.split()[1]) * 1024 for line in f
                                if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0) + size
    return out


def tree_cpu_s(root: int) -> float:
    ticks = 0
    for p in tree_pids(root):
        f = _stat_fields(p)
        if f is not None:
            # utime, stime, cutime, cstime (fields 14-17, 1-based)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


class PeakRss:
    """Samples the tree's resident memory every `SAMPLE_EVERY_S` seconds
    until stopped."""

    def __init__(self, root: int) -> None:
        self._root = root
        self._stop = threading.Event()
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            by_comm = tree_pss(self._root)
            total = sum(by_comm.values())
            if total > self.peak:
                self.peak, self.peak_by_command = total, by_comm
            if self._stop.wait(SAMPLE_EVERY_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
