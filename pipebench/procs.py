"""Process-tree bookkeeping from /proc (Linux only; no third-party modules).

The benchmark starts a JVM, which starts the pyspark daemon, which forks
Python workers. The daemon moves itself into its own process group, so a
process-group kill cannot reach it. Instead the benchmark's processes make
themselves child subreapers: every orphan in their subtree is re-parented to
them, so walking the parent links from /proc always finds every descendant,
and ``waitpid`` can reap them.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_PDEATHSIG = 1
_PR_SET_CHILD_SUBREAPER = 36
_TICKS = os.sysconf("SC_CLK_TCK")


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def become_subreaper() -> None:
    _prctl(_PR_SET_CHILD_SUBREAPER, 1)


def die_with_parent(sig: int = signal.SIGTERM) -> None:
    """Ask the kernel to send ``sig`` to this process when its parent dies."""
    _prctl(_PR_SET_PDEATHSIG, sig)


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    return raw[raw.rfind(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Every live or zombie process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and its descendants, including
    what their already-reaped children used."""
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in st[11:15])
    return total / _TICKS


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def python_workers(root: int) -> list[int]:
    """pyspark worker processes below ``root``: the daemon's forks (same
    command line as the daemon, whose parent is the JVM)."""
    daemons = {p for p in descendants(root) if "pyspark.daemon" in cmdline(p)}
    workers = []
    for pid in daemons:
        st = _stat(pid)
        if st is not None and int(st[1]) in daemons:
            workers.append(pid)
    return workers


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB, 0 when unavailable."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def reset_peak_rss(pid: int) -> None:
    """Restart ``pid``'s VmHWM from its current RSS (clear_refs code 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
            f.write("5")
    except OSError:
        pass


def reap() -> None:
    """Collect every exited child without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_tree(root: int, timeout_s: float = 30.0) -> list[int]:
    """SIGKILL every descendant of ``root`` (which must be this process, a
    subreaper) and reap until none is left. Returns the pids still present
    at the timeout, which is empty on success."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = descendants(root)
        if not left or time.monotonic() > deadline:
            return left
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        reap()
        time.sleep(0.05)
