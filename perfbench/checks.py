"""Correctness checks for the ``ingest`` and ``batch`` workloads, run after
the timed windows with DuckDB as the independent reader."""

from __future__ import annotations

import duckdb

from olap_db_spark.catalog import TABLES
from perfbench.common import vhash


def duck_catalog(data_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_batch(data_dir: str, spark_checks: dict, inject_wrong: bool):
    """Each query's Spark result against its registered DuckDB oracle."""
    from olap_db_spark import registry

    oracles = registry.oracle_sqls()
    con = duck_catalog(data_dir)
    failed, errors = 0, []
    for i, (q, got) in enumerate(spark_checks.items()):
        tbl = con.sql(oracles[q]).arrow()
        cols = tbl.column_names
        rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
        want = {"rows": len(rows), "hash": vhash(cols, rows)}
        got = {"rows": got["rows"], "hash": got["hash"]}
        if inject_wrong and i == 0:
            got["hash"] = "0" * 32
        if got != want:
            failed += 1
            errors.append(f"batch query {q}: spark {got} != oracle {want}")
    return failed, errors


_CSV_COLS = ("{'domain': 'VARCHAR', 'date': 'DATE', 'term': 'VARCHAR', 'url': 'VARCHAR', "
             "'rank': 'INTEGER', 'volume': 'BIGINT', 'cpc': 'DOUBLE'}")


def check_ingest(sink: str, batches: list, ops: list, appended: list, last_read: list,
                 inject_wrong: bool):
    """Reopen the sink with DuckDB and compare it with a DuckDB model of the
    operation log: append-once landing table, keep-latest served table,
    one DELETE, skipped replays."""
    con = duckdb.connect()
    upserts = [k for op, k in ops if op == "upsert"]
    con.execute("CREATE TABLE incoming AS " + " UNION ALL ".join(
        f"SELECT *, {k} AS batch_no FROM read_csv('{batches[k][0]}', header=true, columns={_CSV_COLS})"
        for k in upserts
    ))
    deleted_after, last = -1, -1
    for op, arg in ops:
        if op == "upsert":
            last = arg
        elif op == "delete":
            deleted_after = last
    errors = []
    # served: latest version per key, dropped when a DELETE came after it
    model = f"""
        SELECT domain, date, term, url, rank, volume, cpc, batch_no,
               strftime(date, '%Y-%m') AS month
        FROM (SELECT *, row_number() OVER (PARTITION BY domain, term, date
                                           ORDER BY batch_no DESC) AS rn FROM incoming)
        WHERE rn = 1 AND NOT (batch_no <= {deleted_after} AND rank > 95)
    """
    served = f"""
        SELECT domain, date, term, url, rank, volume, cpc, batch_no, CAST(month AS VARCHAR)
        FROM read_parquet('{sink}/served/*/*.parquet', hive_partitioning = true)
    """
    n_model = con.sql(f"SELECT COUNT(*) FROM ({model})").fetchone()[0]
    diff = con.sql(f"SELECT COUNT(*) FROM (({model}) EXCEPT ALL ({served})) "
                   f"UNION ALL SELECT COUNT(*) FROM (({served}) EXCEPT ALL ({model}))").fetchall()
    if inject_wrong:
        diff = [(1,)]
    if any(d[0] for d in diff) or n_model == 0:
        errors.append(f"served table differs from the keep-latest model: {diff}")
    want = con.sql(f"SELECT month, COUNT(*), SUM(volume) FROM ({model}) GROUP BY month").fetchall()
    if sorted(map(tuple, last_read)) != sorted(want):
        errors.append(f"last sink read {last_read} != model {want}")
    # landing: every accepted batch exactly once, replays skipped
    landing = f"SELECT * FROM read_parquet('{sink}/landing/*.parquet')"
    want = "SELECT * EXCLUDE (batch_no) FROM incoming"
    diff = con.sql(f"SELECT COUNT(*) FROM (({want}) EXCEPT ALL ({landing})) "
                   f"UNION ALL SELECT COUNT(*) FROM (({landing}) EXCEPT ALL ({want}))").fetchall()
    if any(d[0] for d in diff):
        errors.append(f"landing table differs from the append-once model: {diff}")
    logged = con.sql(f"SELECT batch_id, COUNT(*) FROM read_parquet('{sink}/ingest_log/*.parquet') "
                     "GROUP BY batch_id HAVING COUNT(*) > 1").fetchall()
    if logged or not all(appended):
        errors.append(f"ingest log has duplicates {logged} or a fresh batch was refused")
    return len(errors), errors
