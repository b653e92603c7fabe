"""Stopping every process a run started, and waiting for each to end.

PySpark launches the JVM with a pipe on its stdin and leaves it running
until the interpreter exits; the JVM then notices the closed pipe and
exits on its own, after the benchmark has already returned. Its Python
workers, and the resource tracker that a ``multiprocessing`` spawn pool
starts, end the same way. ``stop_all`` ends them before the run returns.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

from py4j.protocol import Py4JError

from perfbench.stats import descendants


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2 :].split()[0] != b"Z"


def _reap(pid: int) -> None:
    """Collect ``pid`` if it is an ended child of this process."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass


def _stop_jvm(grace_s: float) -> None:
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except (Py4JError, OSError):  # the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    # the gateway server exits the JVM when its stdin reaches end of file
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=grace_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _stop_resource_tracker() -> None:
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    fd, pid = getattr(tracker, "_fd", None), getattr(tracker, "_pid", None)
    if pid is None:
        return
    # the tracker exits when the write end of its pipe closes
    os.close(fd)
    os.waitpid(pid, 0)
    tracker._fd = tracker._pid = None


def stop_all(grace_s: float = 30.0) -> None:
    """Stop the Spark session and its JVM, the JVM's Python workers and
    the multiprocessing resource tracker, then wait until every process
    that descended from this one has ended; whatever outlives
    ``grace_s`` is terminated, then killed."""
    pids = descendants(os.getpid())
    try:
        _stop_jvm(grace_s)
    finally:
        _stop_resource_tracker()
    # the JVM's workers were re-parented when it exited; take any that
    # appeared since the snapshot too
    pids = set(pids) | set(descendants(os.getpid()))
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                if _running(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            for pid in pids:
                _reap(pid)
            pids = {pid for pid in pids if _running(pid)}
            if not pids:
                return
            time.sleep(0.05)
