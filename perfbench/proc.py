"""Process-tree and box counters read from ``/proc``.

CPU seconds are summed over a process and all its live descendants
(driver Python, the JVM, the Python workers the JVM forks). Each live
process contributes its own time plus that of children it has reaped,
so workers that exit between two readings are still counted through
the daemon that reaped them.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; everything after the last ')' is fixed.
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def tree(root: int) -> dict[int, list[str]]:
    """pid -> stat fields for ``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(int(st[2]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM once the worker has exited, the
    Python daemon that puts itself in its own process group) children of
    this process, so ``reap_all`` can kill and wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_all(timeout: float = 30.0) -> None:
    """SIGKILL every descendant of this process (a subreaper) and wait
    until each has been reaped."""
    me = os.getpid()
    end = time.time() + timeout
    while time.time() < end:
        for pid in tree(me):
            if pid != me:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no child left
            return
        time.sleep(0.05)


def kind(pid: int, st: list[str], root: int) -> str:
    """Classify a tree member: the driver Python process, the JVM, or a
    Python worker."""
    if pid == root:
        return "driver_py"
    return "jvm" if st[0] == "java" else "pyworker"


def cpu_by_kind(root: int) -> dict[str, float]:
    """CPU seconds (user + system, own + reaped children) per kind."""
    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, st in tree(root).items():
        # fields after comm: state=1 ... utime=12 stime=13 cutime=14 cstime=15
        out[kind(pid, st, root)] += sum(int(x) for x in st[12:16]) / _TICK
    return out


def write_bytes(root: int) -> int:
    """Bytes the tree's live processes caused to be written to storage."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def peak_rss_by_kind(root: int) -> dict[str, float]:
    """MB of peak resident set (VmHWM) per kind, summed over the tree."""
    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, st in tree(root).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[kind(pid, st, root)] += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the whole box from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0 ** 2
    return 0.0
