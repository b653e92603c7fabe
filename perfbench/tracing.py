"""Layer timing for traced passes, from outside the program.

``Tracer`` times calls into the modules' public functions by wrapping
them for the length of one traced pass, counts the py4j round trips each
call makes, and forces Catalyst's phases through ``queryExecution()`` to
read their durations. Nothing inside ``jschon_spark`` is changed on disk;
every wrapper is removed again when the pass ends.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict


class Py4jCounter:
    """Counts commands sent over the py4j gateway (driver→JVM calls)
    while it is entered as a context manager; outside it the gateway
    client is left as it was, so untraced passes pay nothing for it."""

    def __init__(self, gateway_client):
        self.calls = 0
        self._client = gateway_client
        self._lock = threading.Lock()

    def __enter__(self) -> "Py4jCounter":
        send = self._client.send_command

        @functools.wraps(send)
        def counted(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return send(*args, **kwargs)

        self._client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command  # the class's own method shows again


class Tracer:
    """Accumulates per-layer seconds and counts for one traced pass."""

    def __init__(self, py4j: Py4jCounter):
        self.py4j = py4j
        self.values: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer: str, count_py4j: bool = False):
        """Add the wall time of the block to ``<layer>_s`` and, when asked,
        its py4j calls to ``<layer>.py4j_calls``. Re-entrant: a nested span
        of the same layer is not counted twice."""
        self._depth[layer] += 1
        calls0, t0 = self.py4j.calls, time.perf_counter()
        try:
            yield
        finally:
            self._depth[layer] -= 1
            if self._depth[layer] == 0:
                self.values[f"{layer}_s"] += time.perf_counter() - t0
                if count_py4j:
                    self.values[f"{layer.split('.')[0]}.py4j_calls"] += self.py4j.calls - calls0

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)`` until ``unwrap``."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, functools.wraps(original)(make(original)))

    def wrap(self, owner, attr: str, layer: str, count_py4j: bool = False) -> None:
        """Time every call of ``owner.attr`` into ``layer`` until ``unwrap``."""

        def make(original):
            def timed(*args, **kwargs):
                with self.span(layer, count_py4j):
                    return original(*args, **kwargs)

            return timed

        self.patch(owner, attr, make)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def catalyst(self, df) -> None:
        """Force analysis, optimization and physical planning of ``df``
        and add the phase durations its QueryPlanningTracker recorded.

        An action on ``df`` itself (``collect``) reuses this planning. A
        write does not: it plans a command that wraps ``df`` and records
        no optimization or planning phase on ``df``'s tracker, so for a
        DataFrame that is written this is a separate planning of the
        written plan, whose cost lands in the traced pass's time."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase, key in (("analysis", "analyze"), ("optimization", "optimize"), ("planning", "plan")):
            summary = phases.get(phase)
            if summary.isDefined():
                self.values[f"catalyst.{key}_s"] += summary.get().durationMs() / 1e3

    def add(self, key: str, value: float) -> None:
        self.values[key] += value
