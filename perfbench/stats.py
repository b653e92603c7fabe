"""Robust statistics, steady-state warm-up, and /proc readings: the process
tree, its CPU time, its memory sampler and the machine's steal time."""

from __future__ import annotations

import math
import os
import threading
import time
from typing import Callable, Optional, Sequence

# tail percentiles tried from the highest down; a percentile is reported
# only when at least TAIL_MIN samples lie beyond it
TAIL_LADDER = (99.9, 99.0, 90.0, 75.0)
TAIL_MIN = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (the ``inclusive`` method of
    ``statistics.quantiles``): p=0 is the minimum, p=100 the maximum."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> Optional[float]:
    """Highest percentile of the ladder with at least TAIL_MIN of ``n``
    samples beyond it, or None when the sample is too small for any."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN - 1e-9:  # 100 - 99.9 is inexact
            return p
    return None


def summarize(values: Sequence[float]) -> dict:
    """Median, the tail percentile the sample size supports, and the
    sample count. ``tail_p`` is None when no ladder percentile has ten
    samples beyond it."""
    n = len(values)
    p = tail_percentile(n)
    return {
        "n": n,
        "p50": percentile(values, 50.0),
        "tail_p": p,
        "tail": percentile(values, p) if p is not None else None,
    }


def warm_until_steady(
    run_once: Callable[[], float], tolerance: float, max_passes: int, max_seconds: float, min_passes: int = 1
) -> list[float]:
    """Call ``run_once`` (which returns its own duration) until two
    consecutive durations agree within ``tolerance`` of the earlier one,
    or until ``max_passes`` or, once ``min_passes`` have run,
    ``max_seconds`` is reached. Returns every duration seen, so the
    caller can record how many passes warming took."""
    times: list[float] = []
    t0 = time.perf_counter()
    while True:
        times.append(run_once())
        steady = len(times) >= 2 and abs(times[-1] - times[-2]) <= tolerance * times[-2]
        timed_out = len(times) >= min_passes and time.perf_counter() - t0 >= max_seconds
        if steady or len(times) >= max_passes or timed_out:
            return times


def proc_table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (parent pid, virtual size, resident pages, CPU ticks in user
    and system mode) for every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # the command name is parenthesised and may contain spaces; after
        # it come state, ppid, ... utime, stime (fields 14, 15), vsize
        # (field 23) and rss (field 24)
        fields = stat[stat.rfind(b")") + 2 :].split()
        table[int(name)] = (int(fields[1]), int(fields[20]), int(fields[21]), int(fields[11]) + int(fields[12]))
    return table


def descendants(root_pid: int, table: Optional[dict] = None) -> list[int]:
    """Pids of every live descendant of ``root_pid``, parents first."""
    table = proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, i = list(children.get(root_pid, ())), 0
    while i < len(out):
        out.extend(children.get(out[i], ()))
        i += 1
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants: the
    driver, the JVM it launched and the JVM's Python workers.

    A child whose virtual size equals its parent's has just been forked
    (the JVM forks before exec'ing every helper command) and still maps
    the parent's pages; counting it would count those pages twice."""
    table = proc_table()
    total = table[root_pid][2] if root_pid in table else 0
    for pid in descendants(root_pid, table):
        ppid, vsize, rss, _ = table[pid]
        if ppid in table and table[ppid][1] == vsize:
            continue
        total += rss
    return total * os.sysconf("SC_PAGE_SIZE")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds that ``root_pid`` and its live descendants have used."""
    table = proc_table()
    ticks = sum(table[pid][3] for pid in [root_pid, *descendants(root_pid, table)] if pid in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def clock() -> tuple[float, float]:
    """Start of a timed section: (wall seconds, CPU seconds of this
    process tree). The CPU counter is read first, so the wall time of
    ``since`` leaves out both reads of it."""
    cpu = tree_cpu_s(os.getpid())
    return time.perf_counter(), cpu


def since(start: tuple[float, float]) -> tuple[float, float]:
    """Wall and process-tree CPU seconds since ``clock()`` gave ``start``."""
    wall = time.perf_counter()
    return wall - start[0], tree_cpu_s(os.getpid()) - start[1]


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """One daemon thread sampling the process tree's resident memory at
    a low rate; ``peak_bytes`` is the largest sample since ``reset``."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        rss = tree_rss_bytes(self.root_pid)
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, rss)

    def reset(self) -> None:
        with self._lock:
            self.peak_bytes = 0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)
