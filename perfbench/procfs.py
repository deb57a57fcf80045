"""Process-tree readings from /proc (psutil is not available)."""

from __future__ import annotations

import os

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # fields after the parenthesised command name, which may hold spaces
        return fh.read().rsplit(")", 1)[1].split()


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat_fields(d)[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss(root_pid: int) -> int:
    """Resident bytes of the tree."""
    total = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(root_pid: int) -> float:
    """User plus system CPU seconds of the live processes of the tree,
    including children they have reaped."""
    ticks = 0
    for pid in tree_pids(root_pid):
        try:
            f = _stat_fields(pid)
            ticks += sum(int(x) for x in f[11:15])   # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / TICK


def host_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine since boot, from /proc/stat:
    steal is time the hypervisor ran something else on these vCPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]
