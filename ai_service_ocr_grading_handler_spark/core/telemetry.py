"""Per-operator registry of recent telemetry handles.

Operators that report what they drop or cap (MinHash/SimHash/sign-LSH
bucket caps, SemDeDup cell caps, ExactSubstr hot grams, WARC record drops)
attach a handle to each plan they build: a Spark `Observation` or a dict of
accumulators. The handle only fills in once the plan executes, and a plan
may be built and never run, so each operator keeps its last few handles in
one `Recent` and its `last_*_metrics()` getter reads the newest one that
has data.
"""

from __future__ import annotations

import collections
import threading
from collections.abc import Callable

from py4j.protocol import Py4JError


KEEP = 8  # handles kept per operator


class Recent:
    """The last KEEP handles one operator registered, newest last, each
    numbered with a monotonic invocation id.

    `read(handle)` returns the handle's metrics dict, or None while the
    plan it belongs to has not completed. `newest()` returns the newest
    handle's metrics that are not None, plus `invocation` (its id), so a
    caller can tell a fresh report from an older run's: a query whose
    optimized plan eliminates the metrics node (e.g. empty input folded
    away) never completes its handle. Never blocks on a plan that was
    built but not executed."""

    def __init__(self, read: Callable[[object], dict | None], empty: str):
        self._read = read
        self._empty = empty
        self._lock = threading.Lock()
        self._last_id = 0
        self._handles: collections.deque = collections.deque(maxlen=KEEP)

    def add(self, handle: object) -> int:
        """Register `handle` as the newest invocation; returns its id."""
        with self._lock:
            self._last_id += 1
            self._handles.append((self._last_id, handle))
            return self._last_id

    def newest(self) -> dict:
        """Metrics of the newest handle with data, plus `invocation`.
        Raises RuntimeError(`empty`) when no handle has data."""
        with self._lock:
            handles = list(self._handles)
        for invocation, handle in reversed(handles):
            out = self._read(handle)
            if out is not None:
                return {**out, "invocation": invocation}
        raise RuntimeError(self._empty)


def observed(obs) -> dict | None:
    """Metrics of a completed `Observation`, or None when its query has
    not completed. Probes the JVM Observation's `getOrEmpty`, which never
    blocks; an Observation not yet attached to a plan, or one on Spark
    Connect (no JVM handle, so no non-blocking probe), reads as not
    completed."""
    jo = getattr(obs, "_jo", None)
    if jo is None:
        return None
    try:
        jmap = jo.getOrEmpty()
        if jmap.isEmpty():
            return None
        out = {}
        it = jmap.keysIterator()
        while it.hasNext():
            k = it.next()
            out[str(k)] = jmap.apply(k)
        return out
    except Py4JError:
        return None
