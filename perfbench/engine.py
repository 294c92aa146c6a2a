"""Engine-side process of the benchmark: builds an ``OlapEngine`` through
the public API, then serves HTTP (``dashboard``) or runs the in-process
client loop (``pipeline``).

Usage (spawned by run.py): ``python3 perfbench/engine.py <config.json>``.
Protocol on stdout: ``READY [port]`` once the engine is usable, ``DONE``
after the result file is written. ``dashboard`` reads ``TRACE`` /
``UNTRACE`` (start / stop recording spans) and ``STOP`` lines on stdin.

Tracing wraps public functions of the program from this file at run time
(the program itself is not edited); the untraced path pays one flag test
per wrapped call.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import Tracer  # noqa: E402

TRACER = Tracer()


def _emit(line: str) -> None:
    sys.stdout.write(line + "\n")
    sys.stdout.flush()


def _verb(self, query, *a, **kw) -> str:
    from olap_db_spark.api import classify_statement

    return f"api.sql.{(classify_statement(query) or 'SELECT').lower()}"


def _install_api_wrappers() -> None:
    from olap_db_spark import api

    api.OlapEngine.sql = TRACER.wrap(_verb, api.OlapEngine.sql)


def build_engine(data_dir: str) -> tuple:
    from olap_db_spark.api import OlapEngine
    from olap_db_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    engine = OlapEngine(data_dir, spark=spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return engine, {"session.get_spark_s": t1 - t0, "catalog.register_views_s": t2 - t1}


# --- dashboard: the HTTP server --------------------------------------------

def serve(engine) -> None:
    import http.server

    from pyspark.sql.classic.dataframe import DataFrame

    _install_api_wrappers()
    handler = http.server.BaseHTTPRequestHandler
    handle, parse = handler.handle_one_request, handler.parse_request

    # the request span opens once the request line has arrived (not while a
    # keep-alive connection waits for the next request) and closes when the
    # response is written
    def parse_request(self):
        TRACER.new_request()
        self.perfbench_span = TRACER.begin("server.request")
        return parse(self)

    def handle_one_request(self):
        self.perfbench_span = None
        try:
            return handle(self)
        finally:
            TRACER.end(self.perfbench_span)

    to_iter = DataFrame.toLocalIterator

    def to_local_iterator(self, *a, **kw):
        it = to_iter(self, *a, **kw)
        if not TRACER.enabled:
            return it

        def timed():
            spent, first = 0.0, time.perf_counter()
            try:
                while True:
                    t = time.perf_counter()
                    try:
                        row = next(it)
                    except StopIteration:
                        return
                    finally:
                        spent += time.perf_counter() - t
                    yield row
            finally:
                TRACER.add("server.fetch", first, spent)

        return timed()

    handler.handle_one_request, handler.parse_request = handle_one_request, parse_request
    DataFrame.toLocalIterator = to_local_iterator
    server = engine.serve(port=0)
    _emit(f"READY {server.port}")
    for line in sys.stdin:
        if line.strip() in ("TRACE", "UNTRACE"):
            TRACER.enabled = line.strip() == "TRACE"
        elif line.strip() == "STOP":
            break
    server.stop()


# --- pipeline: write path, then the operator report ---------------------------

def _install_writer_wrappers() -> None:
    from olap_db_spark import api
    from olap_db_spark.sources import writers

    for name in ("idempotent_append", "upsert_partition_scoped", "delete_where"):
        setattr(api, name, TRACER.wrap(f"writers.{name}", getattr(api, name)))
    writers.compact_partitions = TRACER.wrap(
        "writers.compact_partitions", writers.compact_partitions
    )


def _new_bytes(root: str, seen: dict) -> int:
    """Bytes of data files under ``root`` not present at the last call."""
    added = 0
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            key = (st.st_ino, st.st_mtime_ns, st.st_size)
            if f.endswith(".parquet") and seen.get(p) != key:
                added += st.st_size
            seen[p] = key
    return added


class Pipeline:
    """The in-process client of the ``pipeline`` workload: a write step
    loads one CSV batch (read, idempotent append, UPSERT into the served
    table, read back), then the report runs one registered query per
    operator module (fn() + noop write)."""

    def __init__(self, cfg: dict, engine):
        from olap_db_spark import registry
        from olap_db_spark.sources.readers import read_rankings_csv

        _install_api_wrappers()
        _install_writer_wrappers()
        self.cfg, self.engine, self.spark = cfg, engine, engine.spark
        self.read_csv = TRACER.wrap("readers.read_rankings_csv", read_rankings_csv)
        self.reg = registry.all_queries()
        self.n_groups = 0

    def write_step(self, root: str, k: int) -> dict:
        csv, rows, nbytes = self.cfg["batches"][k]
        served = f"{root}/served"
        t0 = time.perf_counter()
        df = self.read_csv(self.spark, csv)
        appended = self.engine.ingest(df, f"{root}/landing", f"{root}/ingest_log", f"batch-{k}")
        df.createOrReplaceTempView("rankings_batch")
        t1 = time.perf_counter()
        self.engine.sql(
            f"UPSERT INTO '{served}' PARTITION BY month KEY (domain, term, date) "
            f"ORDER BY batch_no SELECT domain, date, term, url, rank, volume, cpc, "
            f"{k} AS batch_no, date_format(date, 'yyyy-MM') AS month FROM rankings_batch"
        ).collect()
        t2 = time.perf_counter()
        read = self.engine.sql(
            f"SELECT month, COUNT(*) AS n, SUM(volume) AS volume "
            f"FROM parquet.`{served}` GROUP BY month"
        ).collect()
        t3 = time.perf_counter()
        return {"k": k, "rows": rows, "csv_bytes": nbytes, "appended": bool(appended),
                "step_s": t2 - t0, "upsert_s": t2 - t1, "read_s": t3 - t2,
                "read": [list(r) for r in read]}

    def check_pass(self) -> dict:
        """Report pass that collects and hashes each result (correctness)."""
        from perfbench.common import vhash

        out = {}
        for q in self.cfg["queries"]:
            t0 = time.perf_counter()
            df = self.reg[q].fn(self.spark, self.cfg["data_dir"])
            rows = [tuple(r) for r in df.collect()]
            out[q] = {"rows": len(rows), "hash": vhash(df.columns, rows),
                      "cold_s": time.perf_counter() - t0}
        return out

    def report(self) -> dict:
        sc = self.spark.sparkContext
        out = {}
        for q in self.cfg["queries"]:
            group = f"perfbench-{q}-{self.n_groups}"
            self.n_groups += 1
            sc.setJobGroup(group, q)
            TRACER.new_request()
            t0 = time.perf_counter()
            idx = TRACER.begin(f"operators.{q}.fn")
            df = self.reg[q].fn(self.spark, self.cfg["data_dir"])
            TRACER.end(idx)
            t1 = time.perf_counter()
            idx = TRACER.begin(f"operators.{q}.exec")
            df.write.format("noop").mode("overwrite").save()
            TRACER.end(idx)
            t2 = time.perf_counter()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            out[q] = {"fn_s": t1 - t0, "exec_s": t2 - t1, "spark_jobs": jobs}
        sc.setJobGroup("", "")
        return out

    def run(self) -> dict:
        cfg, engine = self.cfg, self.engine
        # warm-up: a write step on a throw-away sink and two report passes,
        # the first of which is the correctness pass
        self.write_step(f"{cfg['work_dir']}/warm-sink", 0)
        checks = self.check_pass()
        self.report()
        root = f"{cfg['work_dir']}/sink"
        served = f"{root}/served"
        cycles, ops, seen = [], [], {}
        replays = skipped = written = 0
        n_min = cfg["min_cycles"] * (2 if cfg["trace"] else 1)
        # whole groups of cycles only, as maintenance runs on every second
        # cycle and tracing follows a period of four; the run stops at the
        # group boundary nearest to --seconds, so a host a little faster or
        # slower than usual does not change the number of groups measured
        period = 4 if cfg["trace"] else 2
        start = time.perf_counter()

        def more(k: int) -> bool:
            if k < n_min or k % period:
                return True
            elapsed = time.perf_counter() - start
            return elapsed + elapsed / (k // period) / 2 < cfg["seconds"]

        k = 0
        while more(k):
            # untraced, traced, traced, untraced: warm-up drift cancels out of
            # the traced-minus-untraced overhead
            TRACER.enabled = cfg["trace"] and k % 4 in (1, 2)
            TRACER.new_request()
            t0 = time.perf_counter()
            rec = self.write_step(root, k)
            ops.append(["upsert", k])
            rec["report"] = self.report()
            rec["traced"] = TRACER.enabled
            if k == int(cfg["trace"]):  # the one DELETE, traced in a traced run
                engine.sql(f"DELETE FROM '{served}' PARTITION BY month WHERE rank > 95").collect()
                ops.append(["delete", "rank > 95"])
            if k % 2 == 1:  # replay the previous batch (must be skipped), compact
                skipped += not engine.ingest(
                    self.read_csv(self.spark, cfg["batches"][k - 1][0]), f"{root}/landing",
                    f"{root}/ingest_log", f"batch-{k - 1}",
                )
                replays += 1
                engine.sql(f"OPTIMIZE '{served}' PARTITION BY month").collect()
            TRACER.enabled = False
            rec["cycle_s"] = time.perf_counter() - t0
            written += _new_bytes(root, seen)
            cycles.append(rec)
            k += 1
        return {"checks": checks, "cycles": cycles, "ops": ops, "sink": root,
                "wall_s": time.perf_counter() - start, "replays": replays,
                "replays_skipped": skipped, "bytes_written": written}


def _die_with_parent() -> None:
    """Have the kernel kill this process when run.py ends, however it ends;
    the JVM exits when its launcher's pipe closes."""
    import ctypes
    import signal

    PR_SET_PDEATHSIG = 1
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)
    if os.getppid() == 1:  # the parent ended before prctl took effect
        sys.exit(1)


def main() -> None:
    _die_with_parent()
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    engine, setup = build_engine(cfg["data_dir"])
    out = {"setup": setup}
    if cfg["workload"] == "dashboard":
        serve(engine)
    else:
        _emit("READY")
        out.update(Pipeline(cfg, engine).run())
    TRACER.dump(cfg["spans_path"])
    with open(cfg["result_path"], "w") as fh:
        json.dump(out, fh)
    engine.spark.stop()
    _emit("DONE")


if __name__ == "__main__":
    main()
