"""CPU time and peak memory of a process tree, read from ``/proc``.

The benchmark process is the root of the tree: it launches the Spark
JVM, which forks the Python worker daemon and its workers. psutil is not
available, so this reads ``/proc/<pid>/stat`` and ``/proc/<pid>/status``
directly (Linux only).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


# HotSpot's JIT compiler threads (thread names are cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        fields = _stat_fields(f"{pid}/task/{tid}")
        if fields:
            total += int(fields[11]) + int(fields[12])
    return total


def cpu_seconds(pids: list[int] | None = None) -> float:
    """User + system CPU of the tree, including children it has already
    reaped (``cutime``/``cstime``), so workers that exited still count.

    The JVM's JIT compiler threads are left out: they compile for
    minutes after start-up, and that CPU is warm-up cost, not work done
    per item."""
    total = 0
    for pid in tree() if pids is None else pids:
        fields = _stat_fields(pid)
        if fields:
            # after ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
            total += sum(int(x) for x in fields[11:15]) - _jit_ticks(pid)
    return total / _TICK


def peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum over the tree of each process's peak resident set (``VmHWM``)."""
    total_kb = 0
    for pid in tree() if pids is None else pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
