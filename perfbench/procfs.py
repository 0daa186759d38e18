"""Process figures read from ``/proc``: the process tree, peak and
current RSS, CPU time and state of a process."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name: state,
    ppid, ... (``stat(pid)[11:15]`` are utime, stime, cutime, cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        st = stat(int(p)) if p.isdigit() else None
        if st:
            kids.setdefault(int(st[1]), []).append(int(p))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    st = stat(pid)
    return st is not None and st[0] != "Z"


def status_mb(pid: int, field: str) -> float:
    """A memory field of ``/proc/<pid>/status`` (VmRSS, VmHWM) in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""
