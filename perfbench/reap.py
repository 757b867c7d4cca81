"""End every process a run starts, and wait for each, before it exits.

PySpark starts the driver JVM; the JVM starts the Python worker daemon
(in a process group of its own) and helper shells; the daemon forks the
workers. ``spark.stop()`` leaves the JVM up until its gateway closes,
and a JVM that ends after this process leaves its children to init.

``adopt_orphans`` makes this process a child subreaper (Linux
``prctl``), so a descendant whose parent ends becomes a child of this
process instead of init's. ``stop_all`` then stops Spark, closes the
gateway (the JVM exits when its standard input closes) and reaps every
child until none is left, killing whatever outlives ``GRACE_S``.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import time

PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 30.0


def adopt_orphans() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def _descendants(root: int) -> list[int]:
    from perfbench.procmem import children

    kids, out, todo = children(), [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _stop_spark() -> None:
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()


def stop_all() -> None:
    """Stop Spark if it was started, then reap every child, killing the
    tree of whatever is still running after ``GRACE_S`` seconds."""
    if "pyspark" in sys.modules:
        _stop_spark()
    deadline = time.monotonic() + GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no child left, running or ended
            return
        if time.monotonic() > deadline:
            for pid in _descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
