"""Stopping Spark so that no process of a run outlives it.

``SparkSession.stop()`` leaves the gateway JVM running until the Python
process exits, and the JVM then ends on its own a moment later. The
benchmark instead closes the JVM itself and waits until it, and every other
process started below this one (Spark's Python worker daemon and its
workers), has ended.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, ppid, start time) of a live pid, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8", errors="replace") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return rest[0], int(rest[1]), int(rest[19])


def descendants(root: int) -> dict[int, int]:
    """{pid: start time} of every process below root."""
    parent, start = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)], start[int(name)] = st[1], st[2]
    out, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in out:
                out[pid] = start[pid]
                frontier.append(pid)
    return out


def _alive(pid: int, start: int) -> bool:
    st = _stat(pid)
    return st is not None and st[2] == start   # a reused pid is another process


GRACE_S, LIMIT_S = 10.0, 30.0


def wait_ended(procs: dict[int, int]) -> list[int]:
    """Wait until every process of {pid: start time} has ended and been
    reaped; SIGKILL those still there after GRACE_S. Returns the pids left
    after LIMIT_S (none, unless a process cannot be killed)."""
    t0 = time.monotonic()
    killed = False
    while True:
        left = [pid for pid, start in procs.items() if _alive(pid, start)]
        waited = time.monotonic() - t0
        if not left or waited > LIMIT_S:
            return left
        if waited > GRACE_S and not killed:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
        time.sleep(0.05)


def stop_spark(spark) -> list[int]:
    """Stop the session (if any), close the gateway JVM and wait until every
    process started below this one has ended. Returns the pids that could
    not be ended (none in practice)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    tree = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        tree.update(descendants(os.getpid()))
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.close()
            except Exception:  # noqa: BLE001 -- the JVM may already be gone
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()   # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
    return wait_ended(tree)
