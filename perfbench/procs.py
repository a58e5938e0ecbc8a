"""The run's own processes: the Spark JVM, the Python worker daemon and
its workers, and anything else started on the way. A run ends only after
every one of them has ended.

``adopt_orphans`` makes the run the child subreaper of its process tree:
a process whose parent exits first (the worker daemon, when the JVM ends)
is re-parented to the run instead of to init, so the run can wait for it.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import time

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> bool:
    """Become the child subreaper of every process started from here on."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def children_map() -> dict[int, list[int]]:
    """Parent pid -> child pids, from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the Spark JVM now. ``SparkSession.stop`` leaves the gateway JVM
    running until this interpreter exits; it exits when its stdin closes."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap_all(timeout_s: float = 60.0) -> None:
    """Wait until this process has no child left, adopted orphans
    included; send SIGTERM to those still running after half of
    ``timeout_s`` and SIGKILL after all of it."""
    me = os.getpid()
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        elapsed = time.monotonic() - t0
        if elapsed > timeout_s / 2:
            sig = signal.SIGKILL if elapsed > timeout_s else signal.SIGTERM
            for pid in tree(me)[1:]:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
