"""Result cache of the HTTP SQL endpoint: repeated plain SELECTs replay the
stored body (``X-Olap-Query-Cache: hit``) only while the plan, the session
conf and the input files are unchanged; everything else streams."""

from __future__ import annotations

import http.client
import socket
import urllib.parse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from olap_db_spark.api import OlapEngine
from olap_db_spark.server import HttpSqlServer


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    # store from the first run, so each invalidation step below takes one
    # request; the default (store from the third run) has its own test
    with HttpSqlServer(OlapEngine(sf_dir, spark=spark)) as srv:
        srv.query_cache.min_runs = 0
        yield srv


def _request(srv, sql: str, fmt: str = "TabSeparated", max_rows: int | None = None,
             method: str = "GET"):
    """(status, X-Olap-Query-Cache, body) over one fresh connection."""
    params = {"query": sql, "default_format": fmt}
    if max_rows is not None:
        params["max_result_rows"] = str(max_rows)
    conn = http.client.HTTPConnection(srv.host, srv.port, timeout=120)
    try:
        conn.request(method, "/?" + urllib.parse.urlencode(params))
        resp = conn.getresponse()
        return resp.status, resp.headers.get("X-Olap-Query-Cache"), resp.read()
    finally:
        conn.close()


def _get(srv, sql: str, **kw) -> tuple[str, bytes]:
    status, state, body = _request(srv, sql, **kw)
    assert status == 200, body
    return state, body


def _raw(srv, sql: str, max_rows: int | None = None) -> bytes:
    """The whole HTTP response, headers and chunked trailers included."""
    q = urllib.parse.quote(sql)
    cap = "" if max_rows is None else f"&max_result_rows={max_rows}"
    with socket.create_connection((srv.host, srv.port), timeout=120) as s:
        s.sendall(
            f"GET /?query={q}{cap} HTTP/1.1\r\n"
            f"Host: {srv.host}\r\nConnection: close\r\n\r\n".encode()
        )
        raw = b""
        while chunk := s.recv(65536):
            raw += chunk
    return raw


def _without_cache_header(raw: bytes) -> bytes:
    head, _, rest = raw.partition(b"\r\n\r\n")
    lines = [
        ln for ln in head.split(b"\r\n")
        if not ln.startswith((b"X-Olap-Query-Cache:", b"Date:"))
    ]
    return b"\r\n".join(lines) + b"\r\n\r\n" + rest


def test_repeated_select_is_a_hit_with_identical_response(server):
    sql = "SELECT n_name, n_regionkey FROM nation ORDER BY n_name"
    first = _raw(server, sql)
    second = _raw(server, sql)
    assert b"X-Olap-Query-Cache: miss" in first
    assert b"X-Olap-Query-Cache: hit" in second
    # same body, same X-Olap-Rows-Limit header, same trailers
    assert _without_cache_header(first) == _without_cache_header(second)
    assert b"X-Olap-Rows-Truncated: 0" in second and b"X-Olap-Rows-Sent: 25" in second
    # the format is part of the key
    state, body = _get(server, sql, fmt="JSONEachRow")
    assert state == "miss" and body.startswith(b'{"n_name"')
    assert _get(server, sql, fmt="JSONEachRow") == ("hit", body)


def test_default_stores_from_the_third_run(spark, sf_dir, tmp_path):
    """By default a query that comes back once is never stored: the first
    two runs are misses that record nothing, the third is stored, the
    fourth is a hit.
    A key that was stored once keeps that standing: after invalidation
    its next run is stored again."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), src / "part-0.parquet")
    sql = f"SELECT SUM(x) AS s FROM parquet.`{src}`"
    with HttpSqlServer(OlapEngine(sf_dir, spark=spark)) as srv:
        for _ in range(2):
            assert _get(srv, sql) == ("miss", b"3\n")
            assert len(srv.query_cache) == 0
        assert _get(srv, sql) == ("miss", b"3\n")
        assert len(srv.query_cache) == 1
        assert _get(srv, sql) == ("hit", b"3\n")
        pq.write_table(pa.table({"x": [10, 20]}), src / "part-0.parquet")
        assert _get(srv, sql) == ("miss", b"30\n")
        assert _get(srv, sql) == ("hit", b"30\n")
        # non-replayable statements are not counted toward admission
        assert _get(srv, "SELECT rand() AS r")[0] == "bypass"
        assert _get(srv, "SELECT rand() AS r")[0] == "bypass"
        assert len(srv.query_cache._runs) == 0


def test_rewritten_parquet_file_is_a_miss_with_new_rows(server, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"x": [1, 2]}), src / "part-0.parquet")
    _get(server, f"CREATE OR REPLACE TEMP VIEW qc_rewrite AS SELECT * FROM parquet.`{src}`",
         method="POST")
    sql = "SELECT SUM(x) AS s, COUNT(*) AS n FROM qc_rewrite"
    assert _get(server, sql) == ("miss", b"3\t2\n")
    assert _get(server, sql) == ("hit", b"3\t2\n")
    pq.write_table(pa.table({"x": [10, 20, 30]}), src / "part-0.parquet")
    assert _get(server, sql) == ("miss", b"60\t3\n")
    assert _get(server, sql) == ("hit", b"60\t3\n")


def test_stale_dataframe_view_listing_bypasses(server, spark, tmp_path):
    """A DataFrame-registered view keeps the file listing it was built
    with; once the disk has moved on, its result is not stored — a later
    re-registration of the same path must not be served the old rows."""
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"x": [1]}), src / "a.parquet")
    spark.read.parquet(str(src)).createOrReplaceTempView("qc_listing")
    sql = "SELECT SUM(x) FROM qc_listing"
    assert _get(server, sql) == ("miss", b"1\n")
    pq.write_table(pa.table({"x": [5]}), src / "b.parquet")
    assert _get(server, sql)[0] == "bypass"
    spark.read.parquet(str(src)).createOrReplaceTempView("qc_listing")
    assert _get(server, sql) == ("miss", b"6\n")
    assert _get(server, sql) == ("hit", b"6\n")


def test_insert_into_empty_table_is_seen(server):
    """An empty catalog table has no file to stat: the directory stat is
    what invalidates the empty result after INSERT."""
    _get(server, "DROP TABLE IF EXISTS qc_empty", method="POST")
    _get(server, "CREATE TABLE qc_empty (k INT) USING parquet", method="POST")
    try:
        sql = "SELECT k FROM qc_empty ORDER BY k"
        assert _get(server, sql) == ("miss", b"")
        assert _get(server, sql) == ("hit", b"")
        _get(server, "INSERT INTO qc_empty VALUES (7), (3)", method="POST")
        assert _get(server, sql) == ("miss", b"3\n7\n")
        assert _get(server, sql) == ("hit", b"3\n7\n")
    finally:
        _get(server, "DROP TABLE IF EXISTS qc_empty", method="POST")


def test_replaced_temp_view_is_a_miss(server):
    sql = "SELECT n_name FROM qc_view ORDER BY n_name"
    _get(server, "CREATE OR REPLACE TEMP VIEW qc_view AS "
                 "SELECT * FROM nation WHERE n_regionkey = 1", method="POST")
    want1 = _get(server, "SELECT n_name FROM nation WHERE n_regionkey = 1 ORDER BY n_name")[1]
    want2 = _get(server, "SELECT n_name FROM nation WHERE n_regionkey = 2 ORDER BY n_name")[1]
    assert want1 != want2
    assert _get(server, sql) == ("miss", want1)
    assert _get(server, sql) == ("hit", want1)
    _get(server, "CREATE OR REPLACE TEMP VIEW qc_view AS "
                 "SELECT * FROM nation WHERE n_regionkey = 2", method="POST")
    assert _get(server, sql) == ("miss", want2)


def test_session_time_zone_change_is_a_miss(server):
    sql = "SELECT CAST(TIMESTAMP_LTZ '2020-01-01 12:00:00 UTC' AS STRING) AS t"
    assert _get(server, sql) == ("miss", b"2020-01-01 12:00:00\n")
    assert _get(server, sql)[0] == "hit"
    try:
        _get(server, "SET spark.sql.session.timeZone=America/New_York", method="POST")
        assert _get(server, sql) == ("miss", b"2020-01-01 07:00:00\n")
    finally:
        _get(server, "SET spark.sql.session.timeZone=UTC", method="POST")
    assert _get(server, sql) == ("miss", b"2020-01-01 12:00:00\n")


def test_non_replayable_statements_bypass(server, spark, tmp_path):
    from olap_db_spark.sources import versioned as V

    spark.udf.register("qc_plus_one", lambda x: x + 1, "long")
    tbl = str(tmp_path / "vtbl")
    V.snapshot_write(spark, spark.createDataFrame([(1, "a")], "k INT, v STRING"), tbl)
    _get(server, "DROP TABLE IF EXISTS qc_dml", method="POST")
    _get(server, "CREATE TABLE qc_dml (k INT) USING parquet", method="POST")
    stored = len(server.query_cache)
    try:
        for sql in (
            "SELECT rand() AS r",
            "SELECT uuid() AS u",
            "SELECT current_timestamp() AS t",
            "SELECT current_database() AS d",
            "SELECT n_name FROM nation WHERE n_nationkey = "
            "(SELECT MAX(n_nationkey) FROM nation WHERE current_date() > DATE '2000-01-01')",
            "SELECT qc_plus_one(n_nationkey) AS k FROM nation",
            "SHOW TABLES",
            "EXPLAIN SELECT 1",
            "CREATE OR REPLACE TEMP VIEW qc_ddl AS SELECT 1 AS one",
            "INSERT INTO qc_dml VALUES (1)",
            f"SHOW VERSIONS FROM '{tbl}'",
            f"READ '{tbl}' VERSION AS OF 1",
        ):
            assert _get(server, sql)[0] == "bypass", sql
            assert _get(server, sql)[0] == "bypass", sql
    finally:
        _get(server, "DROP TABLE IF EXISTS qc_dml", method="POST")
    assert len(server.query_cache) == stored


def test_capped_request_never_gets_a_larger_body(server):
    sql = "SELECT n_nationkey FROM nation ORDER BY n_nationkey"
    state, full = _get(server, sql)
    assert state == "miss" and len(full.splitlines()) == 25
    raw = _raw(server, sql, max_rows=5)
    assert b"X-Olap-Query-Cache: miss" in raw and b"X-Olap-Rows-Truncated: 1" in raw
    assert _get(server, sql, max_rows=24)[1] == b"".join(full.splitlines(True)[:24])
    assert _get(server, sql, max_rows=25) == ("hit", full)
    # a truncated response is never stored
    other = "SELECT n_name FROM nation ORDER BY n_nationkey"
    assert _get(server, other, max_rows=3)[0] == "miss"
    state, body = _get(server, other)
    assert state == "miss" and len(body.splitlines()) == 25
    assert _get(server, other) == ("hit", body)


def test_entry_larger_than_cap_is_streamed_not_stored(server):
    sql = "SELECT id FROM range(200000)"
    state, body = _get(server, sql, max_rows=200000)
    assert state == "miss" and len(body) > (1 << 20)
    assert len(body.splitlines()) == 200000
    assert _get(server, sql, max_rows=200000)[0] == "miss"


def test_byte_budget_evicts_the_older_entry(spark, sf_dir):
    a = "SELECT n_name FROM nation ORDER BY n_name"
    b = "SELECT r_name FROM region ORDER BY r_name"
    eng = OlapEngine(sf_dir, spark=spark)
    with HttpSqlServer(eng) as probe:
        size_a, size_b = len(_get(probe, a)[1]), len(_get(probe, b)[1])
    budget = max(size_a, size_b) + 1
    assert budget < size_a + size_b
    with HttpSqlServer(eng, query_cache_bytes=budget) as srv:
        srv.query_cache.min_runs = 0
        assert _get(srv, a)[0] == "miss"
        assert _get(srv, a)[0] == "hit"
        assert _get(srv, b)[0] == "miss"
        assert len(srv.query_cache) == 1 and srv.query_cache.bytes == size_b
        assert _get(srv, b)[0] == "hit"
        assert _get(srv, a)[0] == "miss"
    with HttpSqlServer(eng, query_cache_bytes=0) as off:
        assert off.query_cache is None
        assert _get(off, a)[0] == "bypass"
        assert _get(off, a)[0] == "bypass"


def test_concurrent_puts_and_drops_keep_the_byte_count(tmp_path):
    """Handler threads share one cache: puts, evictions and stale-entry
    drops from many threads must keep the byte count equal to the stored
    bodies and within the budget."""
    import sys
    import threading

    from olap_db_spark.query_cache import Proof, QueryCache

    stale = tmp_path / "input"
    stale.write_bytes(b"x")
    # a stat that never matches: every lookup of an entry drops it
    proof = Proof(plan=None, conf=None, stats=((str(stale), -1, -1),))
    cache = QueryCache(spark=None, max_bytes=5000)
    errors: list[BaseException] = []

    def worker(w: int) -> None:
        try:
            for i in range(400):
                key = (f"SELECT {i % 37}", "TabSeparated")
                if (i + w) % 3:
                    cache.put(key, proof, b"r" * (50 + 97 * ((i * 7 + w) % 11)), 1)
                else:
                    assert cache.lookup(key, plan=None) is None
        except BaseException as ex:  # noqa: BLE001 - reported by the main thread
            errors.append(ex)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert cache.bytes == sum(len(e.body) for e in cache._entries.values())
    assert 0 < cache.bytes <= cache.max_bytes
