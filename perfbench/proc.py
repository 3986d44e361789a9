"""Process-tree readings from /proc: the benchmark's memory and CPU time
cover the driver, the JVM it launches and Spark's Python workers."""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        # the command name may hold spaces; fields resume after ")"
        return f.read().rsplit(")", 1)[1].split()


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_pss_kb(root_pid: int) -> int:
    """Resident kB of a process tree, summed as proportional set size so
    that pages shared by forked Python workers count once."""
    total = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user and system) used by a process tree, including
    children that already exited and were waited for. Time the
    hypervisor stole from the machine is not in it."""
    ticks = 0
    for pid in tree_pids(root_pid):
        try:
            f = _stat_fields(pid)
        except (OSError, IndexError):
            continue
        ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICKS


def session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``. Spark's Python
    daemon moves its workers to a process group of their own, but they
    stay in the session of the process that started the JVM."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat_fields(int(entry))
        except (OSError, IndexError):
            continue
        if int(f[3]) == sid and f[0] != "Z":
            out.append(int(entry))
    return out
