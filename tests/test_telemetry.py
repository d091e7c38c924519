"""core.telemetry without Spark: the Recent registry under thread
contention, and the Observation completion probe's error handling."""

from __future__ import annotations

import concurrent.futures
import random
import sys

import pytest
from py4j.protocol import Py4JError

from ai_service_ocr_grading_handler_spark.core.telemetry import KEEP, Recent, observed

THREADS = 24  # more than the host's cores
ADDS_PER_THREAD = 200


def _read(handle):
    """A handle is (tag, done); an undone handle has not completed."""
    tag, done = handle
    return {"tag": tag} if done else None


def test_recent_ids_unique_contiguous_under_contention():
    """Every add gets its own id, the ids are exactly 1..N, and newest()
    reports the highest-id completed handle still in the window — the
    invariants a lost `+= 1` or an append out of id order would break.
    Readers run concurrently with the writers."""
    reg = Recent(_read, "nothing to report")
    rng = random.Random(7)
    plans = [
        [(f"t{t}-{i}", rng.random() < 0.5) for i in range(ADDS_PER_THREAD)]
        for t in range(THREADS)
    ]

    def writer(handles):
        return [(reg.add(h), h) for h in handles]

    def reader():
        for _ in range(ADDS_PER_THREAD):
            try:
                out = reg.newest()
            except RuntimeError:
                continue
            assert out["tag"] is not None and out["invocation"] >= 1

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with concurrent.futures.ThreadPoolExecutor(max_workers=THREADS + 4) as ex:
            writes = [ex.submit(writer, p) for p in plans]
            reads = [ex.submit(reader) for _ in range(4)]
            added = [pair for f in writes for pair in f.result(timeout=60)]
            for f in reads:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(old)

    n = THREADS * ADDS_PER_THREAD
    ids = sorted(i for i, _ in added)
    assert ids == list(range(1, n + 1))
    by_id = dict(added)
    window = [i for i in range(n - KEEP + 1, n + 1) if by_id[i][1]]
    if window:
        out = reg.newest()
        assert out == {"tag": by_id[max(window)][0], "invocation": max(window)}
    else:
        with pytest.raises(RuntimeError, match="nothing to report"):
            reg.newest()


def test_recent_skips_uncompleted_and_reports_empty():
    reg = Recent(_read, "no run to report on")
    with pytest.raises(RuntimeError, match="no run to report on"):
        reg.newest()
    reg.add(("a", True))
    reg.add(("b", False))
    assert reg.newest() == {"tag": "a", "invocation": 1}
    for i in range(KEEP - 1):  # "a" falls out of the window
        reg.add((f"u{i}", False))
    with pytest.raises(RuntimeError, match="no run to report on"):
        reg.newest()


class _JMap:
    """The slice of scala.collection.Map that `observed` calls."""

    def __init__(self, values):
        self._values = values
        self._keys = iter(list(values))
        self._next = next(self._keys, None)

    def isEmpty(self):
        return not self._values

    def keysIterator(self):
        return self

    def hasNext(self):
        return self._next is not None

    def next(self):
        k, self._next = self._next, next(self._keys, None)
        return k

    def apply(self, k):
        return self._values[k]


class _Obs:
    def __init__(self, get):
        self._jo = type("JO", (), {"getOrEmpty": staticmethod(get)})()


def test_observed_probe():
    """Completed -> metrics; empty or unattached -> not completed; a py4j
    failure -> not completed; any other error is a bug and raises."""
    assert observed(_Obs(lambda: _JMap({"n": 3, "m": 1}))) == {"n": 3, "m": 1}
    assert observed(_Obs(lambda: _JMap({}))) is None
    assert observed(type("Unattached", (), {"_jo": None})()) is None

    def gone():
        raise Py4JError("gateway closed")

    assert observed(_Obs(gone)) is None

    def bug():
        raise TypeError("reader bug")

    with pytest.raises(TypeError):
        observed(_Obs(bug))
