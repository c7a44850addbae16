"""Memory readings from /proc: the high-water RSS of processes the run started."""

from __future__ import annotations

import os


def parse_status_kb(text: str, field: str) -> int:
    """The value in kB of ``field`` (e.g. ``VmHWM``) in a /proc/<pid>/status text."""
    for line in text.splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1])
    raise ValueError(f"{field} not in status")


def _read(path: str) -> str:
    with open(path, "rb") as f:
        return f.read().decode(errors="replace")


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            stat = _read(f"/proc/{name}/stat")
        except OSError:
            continue
        # the command name may contain spaces, so parse after its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """False once ``pid`` has exited, zombies included."""
    try:
        stat = _read(f"/proc/{pid}/stat")
    except OSError:
        return False
    return stat.rsplit(")", 1)[1].split()[0] not in ("Z", "X")


def cmdline(pid: int) -> str:
    return _read(f"/proc/{pid}/cmdline").replace("\0", " ")


def vmhwm_mb(pid: int) -> float:
    return parse_status_kb(_read(f"/proc/{pid}/status"), "VmHWM") / 1024.0


def peak_rss_mb(root: int, marker: str) -> float:
    """Largest VmHWM among descendants of ``root`` whose command line
    contains ``marker``; 0.0 when none is alive."""
    peak = 0.0
    for pid in descendants(root):
        try:
            if marker in cmdline(pid):
                peak = max(peak, vmhwm_mb(pid))
        except (OSError, ValueError):
            continue  # exited while we looked
    return peak
