"""``dashboard`` workload: two closed-loop HTTP clients in one process
against the engine's SQL endpoint (``OlapEngine.serve``).

Client A loops over small analytic SQL - filtered aggregates, point
lookups, a Q3-shaped join with LIMIT and a constant probe - with seeded
parameters; about half of its requests repeat an earlier SQL text
exactly. Client B loops over exports of ~20k lineitem rows, alternating
TabSeparated and JSONEachRow. Results are checked against DuckDB over the
same parquet after the timed windows.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import math
import threading
import time
from urllib.parse import urlencode

import numpy as np

from perfbench.common import median

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EXPORT_ROWS = 20_000


def _day(rng, lo: str = "1995-03-01", span: int = 2000) -> str:
    return (dt.date.fromisoformat(lo) + dt.timedelta(days=int(rng.integers(0, span)))).isoformat()


def _template(rng, kind: int, n_orders: int, n_cust: int) -> str:
    if kind == 0:
        return (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
            "SUM(l_extendedprice) AS price FROM lineitem "
            f"WHERE l_shipdate < DATE '{_day(rng)}' AND l_discount >= {int(rng.integers(0, 9)) / 100} "
            "GROUP BY l_returnflag, l_linestatus"
        )
    if kind == 1:
        return (
            "SELECT o_orderpriority, COUNT(*) AS n, AVG(o_totalprice) AS avg_price FROM orders "
            f"WHERE o_orderstatus = '{'FOP'[int(rng.integers(0, 3))]}' "
            f"AND o_orderdate >= DATE '{_day(rng)}' GROUP BY o_orderpriority"
        )
    if kind == 2 and rng.random() < 0.5:
        return (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "CAST(o_orderdate AS DATE) AS o_orderdate FROM orders "
            f"WHERE o_orderkey = {int(rng.integers(0, n_orders))}"
        )
    if kind == 2:
        return (
            "SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer "
            f"WHERE c_custkey = {int(rng.integers(0, n_cust))}"
        )
    if kind == 3:
        d = _day(rng, "1995-01-15", 2300)
        return (
            "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue, "
            "CAST(o_orderdate AS DATE) AS o_orderdate FROM customer "
            "JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
            f"WHERE c_mktsegment = '{SEGMENTS[int(rng.integers(0, 5))]}' "
            f"AND o_orderdate < DATE '{d}' AND l_shipdate > DATE '{d}' "
            "GROUP BY l_orderkey, CAST(o_orderdate AS DATE) "
            "ORDER BY revenue DESC, l_orderkey LIMIT 10"
        )
    return f"SELECT {int(rng.integers(0, 1000))} AS probe"


class QueryMix:
    """Client A's seeded request stream. The five query kinds take turns, so
    every window holds the same mix and its median falls inside one kind's
    latencies rather than in a gap between two; within a kind, about half
    of the requests repeat an earlier SQL text of that kind exactly."""

    KINDS = 5

    def __init__(self, seed: int, n_orders: int, n_cust: int):
        self.rng = np.random.default_rng([seed, 11])
        self.n_orders, self.n_cust = n_orders, n_cust
        self.issued: list[list[str]] = [[] for _ in range(self.KINDS)]
        self.i = 0

    def fresh(self, kind: int) -> str:
        return _template(self.rng, kind, self.n_orders, self.n_cust)

    def next(self) -> str:
        kind, self.i = self.i % self.KINDS, self.i + 1
        seen = self.issued[kind]
        if seen and self.rng.random() < 0.5:
            return seen[int(self.rng.integers(0, len(seen)))]
        seen.append(self.fresh(kind))
        return seen[-1]


class ExportMix:
    """Client B's seeded export stream, alternating the two formats."""

    def __init__(self, seed: int, n_orders: int, n_lines: int):
        self.rng = np.random.default_rng([seed, 13])
        self.width = max(1, int(EXPORT_ROWS * n_orders / max(1, n_lines)))
        self.n_orders, self.i = n_orders, 0

    def next(self) -> tuple[str, str]:
        a = int(self.rng.integers(0, max(1, self.n_orders - self.width)))
        fmt = ("TabSeparated", "JSONEachRow")[self.i % 2]
        self.i += 1
        return export_sql(a, a + self.width), fmt


def export_sql(lo: int, hi: int) -> str:
    return (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, "
        "l_returnflag, CAST(l_shipdate AS DATE) AS l_shipdate FROM lineitem "
        f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"
    )


class Client:
    """One keep-alive HTTP connection; ``request`` returns
    (ok, ttfb_s, total_s, body bytes)."""

    def __init__(self, port: int):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def request(self, sql: str, fmt: str = "TabSeparated"):
        path = "/?" + urlencode({"query": sql, "default_format": fmt})
        t0 = time.perf_counter()
        try:
            self.conn.request("GET", path)
            resp = self.conn.getresponse()
            t1 = time.perf_counter()
            body = resp.read()
            t2 = time.perf_counter()
        except (OSError, http.client.HTTPException):
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            t = time.perf_counter() - t0
            return False, t, t, b""
        ok = resp.status == 200 and b"__error__" not in body
        return ok, t1 - t0, t2 - t0, body


def run_window(port: int, qmix: QueryMix, emix: ExportMix, seconds: float) -> dict:
    """Both clients for ``seconds``; per-request records for each."""
    a_log, b_log = [], []
    deadline = time.perf_counter() + seconds

    def client_a():
        c = Client(port)
        while time.perf_counter() < deadline:
            kind, sql = qmix.i % qmix.KINDS, qmix.next()
            ok, ttfb, total, body = c.request(sql)
            a_log.append({"sql": sql, "kind": kind, "ok": ok, "ttfb": ttfb, "total": total,
                          "body": body.decode("utf-8", "replace"), "end": time.perf_counter()})

    def client_b():
        c = Client(port)
        while time.perf_counter() < deadline:
            sql, fmt = emix.next()
            ok, ttfb, total, body = c.request(sql, fmt)
            b_log.append({"sql": sql, "fmt": fmt, "ok": ok, "ttfb": ttfb, "total": total,
                          "rows": body.count(b"\n"), "bytes": len(body),
                          "body": body, "end": time.perf_counter()})

    start = time.perf_counter()
    threads = [threading.Thread(target=client_a), threading.Thread(target=client_b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"a": a_log, "b": b_log, "start": start}


def warm_up(port: int, qmix: QueryMix, emix: ExportMix, seconds: float) -> None:
    """Every query kind and export format once, then both clients for
    ``seconds`` (results discarded, not checked)."""
    c = Client(port)
    for kind in range(QueryMix.KINDS):
        c.request(qmix.fresh(kind))
    for fmt in ("TabSeparated", "JSONEachRow"):
        c.request(export_sql(0, emix.width), fmt)
    run_window(port, qmix, emix, seconds)


def kind_p50_mean(records: list[dict]) -> float:
    """Client A latency in ms: the median of each query kind, averaged over
    the kinds. The kinds' latencies differ by up to 4x, so a median pooled
    over all requests jumps between kinds as their counts in a window
    shift by one; per-kind medians do not."""
    meds = [median([r["total"] * 1000 for r in records if r["kind"] == k])
            for k in range(QueryMix.KINDS)]
    meds = [m for m in meds if m]
    return sum(meds) / len(meds) if meds else 0.0


# --- correctness against DuckDB ------------------------------------------

def _canon(v):
    if v is None or v == "\\N":
        return None
    s = v.isoformat() if hasattr(v, "isoformat") else str(v)
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return s


def _key(row):
    return tuple((2,) if v is None else (0, float(f"{v:.9g}")) if isinstance(v, (int, float))
                 else (1, v) for v in row)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality with a relative tolerance on floats (Spark and
    DuckDB may sum doubles in different orders)."""
    if len(got) != len(want):
        return False
    got = sorted(([_canon(v) for v in r] for r in got), key=_key)
    want = sorted(([_canon(v) for v in r] for r in want), key=_key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def parse_body(body, fmt: str) -> list[tuple]:
    text = body.decode("utf-8") if isinstance(body, bytes) else body
    lines = [ln for ln in text.split("\n") if ln]
    if fmt == "JSONEachRow":
        return [tuple(json.loads(ln).values()) for ln in lines]
    return [tuple(ln.split("\t")) for ln in lines]


def check(con, windows: list[dict], inject_wrong: bool) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages) over every request of the windows."""
    attempted = failed = 0
    errors: list[str] = []
    truth: dict[str, list[tuple]] = {}
    counts: dict[str, int] = {}
    checked_formats: set[str] = set()
    for w in windows:
        for r in w["a"]:
            attempted += 1
            if r["sql"] not in truth:
                truth[r["sql"]] = con.sql(r["sql"]).fetchall()
            got = parse_body(r["body"], "TabSeparated") if r["ok"] else None
            if inject_wrong and attempted == 1 and got is not None:
                got = got + [("0",)]
            if got is None or not same_rows(got, truth[r["sql"]]):
                failed += 1
                errors.append(f"client A wrong or failed result: {r['sql'][:120]}")
        for r in w["b"]:
            attempted += 1
            if r["sql"] not in counts:
                counts[r["sql"]] = con.sql(f"SELECT COUNT(*) FROM ({r['sql']})").fetchone()[0]
            ok = r["ok"] and r["rows"] == counts[r["sql"]]
            if ok and r["fmt"] not in checked_formats:
                checked_formats.add(r["fmt"])
                ok = same_rows(parse_body(r["body"], r["fmt"]), con.sql(r["sql"]).fetchall())
            if not ok:
                failed += 1
                errors.append(f"client B wrong or failed export ({r['fmt']}): {r['sql'][-60:]}")
    return attempted, failed, errors
