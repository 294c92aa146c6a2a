"""Shared pieces of the benchmark: paths, spans, statistics, result hashing
and the process-tree memory probe."""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def median(values) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    n = len(s)
    return float(s[n // 2]) if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def vhash(cols, rows) -> str:
    """Order-insensitive value hash of a result (column order normalized by
    name, rows sorted by repr), as in tools/drive_contract.py."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(r[i] for i in order)) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


class Tracer:
    """In-memory spans recorded around calls into the program's layers.

    A span is ``(name, start, end, parent, rid)``; parent is the index of
    the enclosing span on the same thread, rid the request the span serves.
    Recording is off until ``enabled`` is set, so an untraced window pays
    one attribute test per wrapped call."""

    def __init__(self):
        self.enabled = False
        self.spans: list[tuple] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def new_request(self) -> int:
        self._local.rid = next(self._ids)
        return self._local.rid

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        st = self._stack()
        rec = [name, time.perf_counter(), None, st[-1] if st else None,
               getattr(self._local, "rid", None)]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        st.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx][2] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def add(self, name: str, start: float, dur: float) -> None:
        """Record a span measured elsewhere (e.g. summed iterator pulls)."""
        if not self.enabled:
            return
        st = self._stack()
        with self._lock:
            self.spans.append([name, start, start + dur, st[-1] if st else None,
                               getattr(self._local, "rid", None)])

    def wrap(self, name, fn):
        """``fn`` timed as span ``name`` (or ``name(args)`` when callable)."""
        def wrapped(*a, **kw):
            if not self.enabled:
                return fn(*a, **kw)
            idx = self.begin(name(*a, **kw) if callable(name) else name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(idx)
        wrapped.__wrapped__ = fn
        return wrapped

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans) -> dict[str, list[float]]:
    """Per span name, the list of self times in ms: a span's duration minus
    the part of it covered by its child spans."""
    child = [0.0] * len(spans)
    for s in spans:
        if s[3] is not None and s[2] is not None:
            child[s[3]] += s[2] - s[1]
    out: dict[str, list[float]] = {}
    for i, s in enumerate(spans):
        if s[2] is not None:
            out.setdefault(s[0], []).append((s[2] - s[1] - child[i]) * 1000.0)
    return out


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def tree_pids(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def group_pids(pgid: int) -> list[int]:
    """Live (non-zombie) processes of process group ``pgid``."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z" and int(fields[2]) == pgid:
                out.append(int(d))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages are split between their users, so
    a forked child (the JVM's process launcher, Python workers) is not
    counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss(threading.Thread):
    """Samples the summed proportional RSS of a process tree every
    ``interval`` s. Reading a 2.5 GB JVM's smaps_rollup costs ~35 ms of
    kernel time (4-core host), so sampling faster than 2 Hz would load the
    machine being measured."""

    def __init__(self, pid: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in tree_pids(self.pid)))
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0
