"""Bounded result cache for the HTTP SQL endpoint (``server.py``).

An entry is the complete encoded response body of one plain query, keyed
by ``(sql text, format)``. It is stored together with the proof it was
admitted on — the analyzed plan, the session SQL conf and an ``os.stat``
snapshot of the input files — and replayed only while that proof still
holds. See the ``server.py`` module docstring for the contract; this
module holds the mechanics.

Cost model: the endpoint runs next to row encoders that hold the GIL, so
every py4j round trip can wait a thread switch. A hit costs the
re-analysis ``OlapEngine.sql`` does anyway plus four JVM calls (fetch the
analyzed plan, ``sameResult``, read and compare the conf) and one
``os.stat`` per stored path; the plan walk and file listing happen only on
a miss.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict
from dataclasses import dataclass

from py4j.protocol import Py4JError

#: default byte budget over all stored bodies
DEFAULT_CACHE_BYTES = 64 << 20
#: largest body one entry may hold (ClickHouse's max_entry_size_in_bytes)
MAX_ENTRY_BYTES = 1 << 20
#: entry count bound: every entry pins an analyzed plan in the JVM, so
#: tiny bodies must not let the count grow without limit
MAX_ENTRIES = 4096
#: cacheable runs of a key before its result is stored (ClickHouse's
#: query_cache_min_query_runs): 2 stores the third run, so queries that
#: come back once or twice are neither recorded nor evict frequent ones.
#: Chosen on the dashboard benchmark (perfbench/), where half of the
#: small queries repeat: storing an earlier run made each query kind's
#: median latency land on hits in some runs and on misses in others.
MIN_RUNS = 2

# Tree-pattern bits (Catalyst keeps them per subtree, subquery plans
# included) that make a result non-replayable: clock/session/catalog
# functions (CURRENT_LIKE covers current_timestamp/now/current_date/
# localtimestamp/current_timezone/current_database/current_catalog/
# current_user...; they report deterministic=True), user-defined
# functions and commands.
_DENY_PATTERNS = (
    "CURRENT_LIKE",
    "PYTHON_UDF",
    "SCALA_UDF",
    "SQL_FUNCTION_EXPRESSION",
    "SQL_SCALAR_FUNCTION",
    "SQL_TABLE_FUNCTION",
    "EVAL_PYTHON_UDF",
    "EVAL_PYTHON_UDTF",
    "PYTHON_DATA_SOURCE",
    "COMMAND",
)
_DATA_FREE_LEAVES = ("LocalRelation", "OneRowRelation", "Range")


@dataclass(frozen=True)
class Proof:
    """What a result was computed from, captured before it executed."""

    plan: object  # analyzed LogicalPlan (py4j handle)
    conf: object  # session SQL conf as an immutable Scala map (py4j handle)
    stats: tuple[tuple[str, int, int], ...]  # (path, st_size, st_mtime_ns)


@dataclass(frozen=True)
class _Entry:
    proof: Proof
    body: bytes
    rows: int


def _visible(name: str) -> bool:
    """Spark's file listing filter (HadoopFSUtils.shouldFilterOutPathName)."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(("_common_metadata", "_metadata"))


def _local_path(uri: str) -> str | None:
    """``file:/a/b`` → ``/a/b``; None for any other filesystem."""
    if not uri.startswith("file:"):
        return None
    path = uri[len("file:"):]
    if path.startswith("//"):  # file:///a/b
        path = path[2:]
    return path if path.startswith("/") else None


def _listed(statuses: str) -> dict[str, int]:
    """Parse ``FileIndex.allFiles().mkString("\\n")`` → {local path: length}."""
    out: dict[str, int] = {}
    for line in statuses.splitlines():
        if not line:
            continue
        rest = line.partition("{path=")[2]
        uri, _, rest = rest.partition("; isDirectory=")
        length = rest.partition("; length=")[2].partition(";")[0]
        path = _local_path(uri)
        if path is None or not length.isdigit():
            raise ValueError(f"unparsed file status: {line[:200]}")
        out[path] = int(length)
    return out


def _snapshot(roots: set[str]) -> tuple[dict, dict[str, int]]:
    """Stat every visible file and directory under ``roots``: returns
    ({path: (size, mtime_ns)}, {file path: size})."""
    stats: dict[str, tuple[int, int]] = {}
    files: dict[str, int] = {}
    todo = list(roots)
    while todo:
        path = todo.pop()
        st = os.stat(path)
        stats[path] = (st.st_size, st.st_mtime_ns)
        if not stat.S_ISDIR(st.st_mode):
            files[path] = st.st_size
            continue
        with os.scandir(path) as it:
            todo.extend(e.path for e in it if _visible(e.name))
    return stats, files


def _unchanged(stats) -> bool:
    for path, size, mtime in stats:
        try:
            st = os.stat(path)
        except OSError:
            return False
        if st.st_size != size or st.st_mtime_ns != mtime:
            return False
    return True


class QueryCache:
    """LRU over total body bytes; thread-safe. ``max_bytes`` must be > 0
    (the server passes None instead of a cache when it is disabled). A key
    is stored once it has run ``min_runs`` times as a cacheable miss; the
    counts live in an LRU of at most ``MAX_ENTRIES`` keys."""

    def __init__(self, spark, max_bytes: int = DEFAULT_CACHE_BYTES):
        self.max_bytes = max_bytes
        self.entry_cap = min(MAX_ENTRY_BYTES, max_bytes)
        self.min_runs = MIN_RUNS
        self.bytes = 0
        self._entries: OrderedDict[tuple[str, str], _Entry] = OrderedDict()
        self._runs: OrderedDict[tuple[str, str], int] = OrderedDict()
        self._lock = threading.Lock()
        self._spark = spark
        self._jconf = None
        self._deny = None
        self._plan_expr = None

    def __len__(self) -> int:
        return len(self._entries)

    def _conf(self):
        if self._jconf is None:
            self._jconf = self._spark._jsparkSession.sessionState().conf()
        return self._jconf.getAllConfs()

    def lookup(self, key: tuple[str, str], plan) -> _Entry | None:
        """The stored entry for ``key`` if its proof still holds for the
        freshly analyzed ``plan``; a stale entry is dropped."""
        with self._lock:
            entry = self._entries.get(key)
        if entry is None:
            return None
        proof = entry.proof
        if not (
            _unchanged(proof.stats)
            and proof.plan.sameResult(plan)
            and proof.conf.equals(self._conf())
        ):
            with self._lock:
                if self._entries.get(key) is entry:
                    del self._entries[key]
                    self.bytes -= len(entry.body)
                # the key has earned its place: store the re-run
                self._count(key, self.min_runs)
            return None
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
        return entry

    def consult(self, key: tuple[str, str], df, max_rows: int):
        """``(state, entry to replay or None, proof to record under or
        None)`` for a request whose DataFrame ``df`` is analyzed, not run;
        state is the ``X-Olap-Query-Cache`` value."""
        try:
            plan = df._jdf.logicalPlan()
            entry = self.lookup(key, plan)
            if entry is not None:
                # a capped request never gets a larger stored body
                return ("hit", entry, None) if entry.rows <= max_rows else ("miss", None, None)
            proof = self.admit(plan)
        except (Py4JError, OSError, ValueError):
            # a relation without a FileIndex, a vanished file, an
            # unexpected listing: not provably replayable
            return "bypass", None, None
        if proof is None:
            return "bypass", None, None
        with self._lock:
            runs = self._runs.get(key, 0)
            if runs < self.min_runs:
                self._count(key, runs + 1)
                return "miss", None, None
        return "miss", None, proof

    def _count(self, key: tuple[str, str], runs: int) -> None:
        """Record ``runs`` for ``key``; caller holds the lock."""
        self._runs[key] = runs
        self._runs.move_to_end(key)
        if len(self._runs) > MAX_ENTRIES:
            self._runs.popitem(last=False)

    def admit(self, plan) -> Proof | None:
        """Proof for a replayable plan, None for one that must stream
        every time. Call before the query runs: the stat snapshot must not
        be newer than the data the result is computed from."""
        jvm = self._spark._jvm
        if self._deny is None:
            tp = jvm.org.apache.spark.sql.catalyst.trees.TreePattern
            self._deny = jvm.PythonUtils.toSeq([getattr(tp, p)() for p in _DENY_PATTERNS])
            self._plan_expr = tp.PLAN_EXPRESSION()
        if plan.containsAnyPattern(self._deny) or not plan.deterministic():
            return None
        plans = [plan]
        if plan.containsPattern(self._plan_expr):
            subs = plan.subqueriesAll()
            plans += [subs.apply(i) for i in range(subs.size())]
        roots: set[str] = set()
        listed: dict[str, int] = {}
        for p in plans:
            leaves = p.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                kind = leaf.nodeName()
                if kind in _DATA_FREE_LEAVES:
                    continue
                if kind != "LogicalRelation":
                    return None
                # only HadoopFsRelation has a FileIndex; any other
                # relation raises here and the caller bypasses
                index = leaf.relation().location()
                for uri in index.rootPaths().mkString("\n").splitlines():
                    path = _local_path(uri)
                    if path is None:
                        return None
                    roots.add(path)
                listed.update(_listed(index.allFiles().mkString("\n")))
        conf = self._conf()
        stats, files = _snapshot(roots)
        # a FileIndex built earlier (a DataFrame temp view) keeps its own
        # listing; a result is replayable only if that listing is what the
        # disk holds now, or a later re-registration of the same paths
        # would be served the old listing's result
        if files != listed:
            return None
        return Proof(plan, conf, tuple((p, s, m) for p, (s, m) in sorted(stats.items())))

    def put(self, key: tuple[str, str], proof: Proof, body: bytes, rows: int) -> None:
        if len(body) > self.entry_cap:
            return
        with self._lock:
            self._runs.pop(key, None)
            old = self._entries.pop(key, None)
            if old is not None:
                self.bytes -= len(old.body)
            self._entries[key] = _Entry(proof, body, rows)
            self.bytes += len(body)
            while self.bytes > self.max_bytes or len(self._entries) > MAX_ENTRIES:
                _, evicted = self._entries.popitem(last=False)
                self.bytes -= len(evicted.body)
