"""CPU time and peak resident memory of a process tree, read from /proc.

The tree is this Python process and every descendant: the Spark JVM, its
Python worker daemon and the workers it forks. A terminated child's CPU
time moves into its parent's cutime/cstime once it is reaped, so summing
utime+stime+cutime+cstime over the live tree counts it exactly once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name (which may hold spaces)
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> dict[int, list[str]]:
    """pid -> stat fields for ``root`` and all its descendants."""
    root = root or os.getpid()
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> float:
    # fields (0-based after the name): 11 utime, 12 stime, 13 cutime, 14 cstime
    return sum(
        sum(int(st[i]) for i in (11, 12, 13, 14)) for st in tree(root).values()
    ) / _TICK


def descendants(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    return [p for p in tree(root) if p != root]


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class PeakRss:
    """Peak resident memory of the tree over a ``with`` block: the sum,
    over the processes alive when the block ends, of each one's kernel
    high-water mark (VmHWM), reset when the block starts, so brief spikes
    count. Processes that start and exit inside the block are left out: a
    helper that a process forks shows its parent's pages until it execs,
    which once read as a 2 GB spike."""

    def __init__(self) -> None:
        self.peak_mb = 0.0

    def __enter__(self) -> "PeakRss":
        for pid in tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset the peak RSS mark to the current RSS
            except OSError:
                pass
        return self

    def __exit__(self, *exc) -> None:
        kb = [_hwm_kb(pid) for pid in tree()]
        self.peak_mb = sum(k for k in kb if k is not None) * 1024 / 1e6
