"""Process-tree CPU and RSS from /proc (Linux)."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stats() -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        out[int(d)] = raw[raw.rindex(")") + 2:].split()
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of `root` and its live descendants,
    including children they have already reaped."""
    stats = _stats()
    # fields after the name: utime=11, stime=12, cutime=13, cstime=14
    return sum(
        sum(int(stats[p][i]) for i in (11, 12, 13, 14))
        for p in _tree(root, stats)
    ) / _TICK


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def tree_rss_mb(root: int) -> tuple[float, set[int]]:
    """Summed RSS of `root` and its descendants, and their process
    groups (the PySpark daemon puts itself in a group of its own).

    A JVM forks short-lived children to run shell commands; until they
    exec they show the whole JVM as their RSS, so a child with its
    parent's command line is left out when the parent is a JVM."""
    stats = _stats()
    pids = _tree(root, stats)
    cmd = {p: _cmdline(p) for p in pids}
    # fields after the name: ppid=1, pgrp=2, rss in pages=21
    counted = [p for p in pids
               if not (int(stats[p][1]) in cmd
                       and cmd[p] == cmd[int(stats[p][1])]
                       and b"java" in cmd[p].split(b"\0", 1)[0])]
    return (sum(int(stats[p][21]) for p in counted) * _PAGE_MB,
            {int(stats[p][2]) for p in pids})


def kill_groups(pgids: set[int], timeout: float = 30.0) -> None:
    """SIGKILL every process of the groups and wait until none is left."""
    for g in pgids:
        try:
            os.killpg(g, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(int(f[2]) in pgids and f[0] != "Z"
                   for f in _stats().values()):
            return
        time.sleep(0.05)
