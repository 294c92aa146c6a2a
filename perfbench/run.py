"""The repo benchmark: one command, two workloads, every metric by name.

    python3 perfbench/run.py --workload {dashboard,pipeline} --seed N \
        --seconds S --trace {0,1}

Each run generates its inputs from ``--seed``, starts the engine in a child
process (``engine.py``), warms it up, measures for ``--seconds``, checks
every result against DuckDB outside the timed window, and prints one JSON
object as its last stdout line. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` traces half of the measured work (slices of the
dashboard window, cycles of the pipeline, in untraced-traced-traced-untraced
order) and reports the per-layer metrics plus the tracing overhead.
``--write-definitions`` rewrites BENCHMARK.json from the tables below.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen  # noqa: E402
from perfbench.common import (  # noqa: E402
    BENCH_DIR, ROOT, PeakRss, group_pids, median, percentile, self_times,
)

WORKLOADS = {
    "dashboard": "HTTP SQL endpoint, 2 closed-loop clients: small analytic SQL "
                 "(half repeated) and 20k-row exports; server/api/catalog busy",
    "pipeline": "1 in-process client: load a CSV batch (append, UPSERT, replay, "
                "OPTIMIZE, DELETE) then a report of one query per operator module",
}

# name, unit, better, bound; the meaning per workload is in README.md
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("latency_p50_ms", "ms", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

# one query per operator module, chosen for a short pass (README.md, "Out of scope")
BATCH_QUERIES = (
    "q3_top_revenue_orders",     # analytics: Q3-shaped join + top-k
    "window_ranking",            # windows
    "ts_session_window",         # events_ts
    "mm_decode_resize_stats",    # multimodal_ops: Python workers
    "text_quality_signals",      # text_analysis
)

# catalog scale factor, rows per CSV batch, pipeline cycle floor and dashboard
# warm-up seconds per --scale. Dashboard throughput climbs for about 40 s of
# load after start (JIT; 18 -> 27 client A requests per 10 s on 4 cores), most
# of it in the first 20.
SCALES = {
    "full": {"sf": 0.01, "csv_rows": 2000, "min_cycles": 2, "warm_s": 15.0},
    "tiny": {"sf": 0.001, "csv_rows": 200, "min_cycles": 2, "warm_s": 1.0},
}
DRIVER_MEMORY = "2g"
VERBS = ("select", "upsert", "optimize", "delete")
_T0 = time.perf_counter()
TIMELINE: list[tuple[str, float]] = []


def mark(phase: str) -> None:
    """Record when ``phase`` ended, in seconds since this process started."""
    TIMELINE.append((phase, time.perf_counter() - _T0))


def per_layer_defs() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric. Layer costs are self-time
    shares (%) of the traced work - client requests on ``dashboard``, cycles
    on ``pipeline`` - so a layer a workload leaves idle reads 0 %; the
    absolute time per call is printed above the result line."""
    out = [
        ("session.get_spark_s", "s"),
        ("catalog.register_views_s", "s"),
        ("api.sql_calls", "count"),
        *((f"api.sql_pct.{verb}", "%") for verb in VERBS),
        ("server.ttfb_pct", "%"),
        ("server.export_ttfb_pct", "%"),
        ("server.fetch_pct", "%"),
        ("server.encode_write_pct", "%"),
        ("server.bytes_out", "bytes"),
        ("readers.read_rankings_csv_pct", "%"),
        ("writers.idempotent_append_pct", "%"),
        ("writers.upsert_partition_scoped_pct", "%"),
        ("writers.compact_partitions_pct", "%"),
        ("writers.delete_where_pct", "%"),
        ("writers.replay_skip_ratio", "ratio"),
        ("writers.bytes_written_per_user_byte", "ratio"),
        ("writers.files_per_partition", "count"),
    ]
    for q in BATCH_QUERIES:
        out += [(f"operators.{q}.fn_pct", "%"), (f"operators.{q}.exec_pct", "%"),
                (f"operators.{q}.spark_jobs", "count")]
    return out + [("trace.overhead_pct", "%"), ("trace.spans", "count")]


def definitions() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 15,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u,
                       "better": "higher" if n == "writers.replay_skip_ratio" else "lower"}
                      for n, u in per_layer_defs()],
    }


# --- child process ------------------------------------------------------

def child_env(work: str) -> dict:
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_SHM": "0",
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "SPARK_CONF_DIR": f"{BENCH_DIR}/conf",
        "PERFBENCH_SPARK_LOG": f"{work}/spark.log",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONHASHSEED": "0",
    })
    return env


class Engine:
    """The engine child process, its start-up time and memory probe."""

    def __init__(self, cfg: dict, work: str):
        cfg_path = f"{work}/engine.json"
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        self.log = open(f"{work}/engine.log", "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, f"{BENCH_DIR}/engine.py", cfg_path], cwd=work,
            env=child_env(work), stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True, start_new_session=True,
        )
        self.rss = PeakRss(self.proc.pid)
        self.rss.start()

    def expect(self, word: str) -> str:
        line = self.proc.stdout.readline()
        if not line.startswith(word):
            raise RuntimeError(f"engine process ended before {word}; see {self.log.name}")
        return line.split()[1] if len(line.split()) > 1 else ""

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def finish(self) -> float:
        """Wait for the whole process tree to end; returns peak RSS in MB."""
        self.expect("DONE")
        mark("engine-done")
        self.proc.wait(timeout=60)
        self.close()
        mark("engine-exit")
        return self.rss.stop()

    def close(self) -> None:
        """Stop the process group (JVM and Python workers included) and wait
        until every member has ended."""
        try:
            os.killpg(self.proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        deadline = time.time() + 20
        while group_pids(self.proc.pid) and time.time() < deadline:
            self.proc.poll()
            time.sleep(0.05)
        for p in group_pids(self.proc.pid):
            os.kill(p, signal.SIGKILL)
        self.proc.wait()
        self.log.close()


# --- workloads (parent side) -------------------------------------------------

def run_dashboard(args, work: str, data: str, cfg: dict) -> dict:
    import urllib.request

    from perfbench import dashboard as dash
    from perfbench.checks import duck_catalog

    eng = Engine(cfg, work)
    try:
        port = int(eng.expect("READY"))
        while True:  # setup ends when /ping answers
            try:
                with urllib.request.urlopen(f"http://127.0.0.1:{port}/ping", timeout=5) as r:
                    if r.status == 200:
                        break
            except OSError:
                time.sleep(0.01)
        setup_s = time.perf_counter() - eng.t0
        mark("setup")
        n = {t: _rows(data, t) for t in ("orders", "customer", "lineitem")}
        qmix = dash.QueryMix(args.seed, n["orders"], n["customer"])
        emix = dash.ExportMix(args.seed, n["orders"], n["lineitem"])
        dash.warm_up(port, qmix, emix, cfg["warm_s"])
        windows = []
        # traced runs alternate untraced, traced, traced, untraced slices so
        # that warm-up drift cancels out of the tracing overhead
        for traced in ([False, True, True, False] if args.trace else [False]):
            eng.send("TRACE" if traced else "UNTRACE")
            w = dash.run_window(port, qmix, emix, args.seconds / (4 if args.trace else 1))
            windows.append(dict(w, traced=traced))
        eng.send("STOP")
        peak = eng.finish()
    finally:
        if eng.proc.poll() is None:
            eng.close()
    res = _child_result(cfg)
    attempted, failed, errors = dash.check(duck_catalog(data), windows, args.inject_wrong)

    def clients(traced: bool):
        ws = [w for w in windows if w["traced"] == traced]
        a = [r for w in ws for r in w["a"]]
        b = [r for w in ws for r in w["b"]]
        a_wall = sum(w["a"][-1]["end"] - w["start"] for w in ws if w["a"])
        b_wall = sum(w["b"][-1]["end"] - w["start"] for w in ws if w["b"])
        return a, b, a_wall, b_wall

    a, b, a_wall, b_wall = clients(False)
    a_ms = [r["total"] * 1000 for r in a]
    metrics = {"setup_s": setup_s, "latency_p50_ms": dash.kind_p50_mean(a),
               "ops_per_s": len(a) / a_wall,
               "rows_per_s": sum(r["rows"] for r in b) / b_wall, "peak_rss_mb": peak}
    info = {"client_a_requests": len(a), "client_b_exports": len(b),
            "query_p50_ms": median(a_ms), "query_p90_ms": percentile(a_ms, 90),
            "query_qps": metrics["ops_per_s"], "export_rows_per_s": metrics["rows_per_s"]}
    for kind in range(dash.QueryMix.KINDS):
        info[f"query_kind{kind}_p50_ms"] = median(
            [r["total"] * 1000 for r in a if r["kind"] == kind])
    for fmt in ("TabSeparated", "JSONEachRow"):
        info[f"export_{fmt}_p50_rows_per_s"] = median(
            [r["rows"] / r["total"] for r in b if r["fmt"] == fmt])
    layers, lines = {}, []
    if args.trace:
        ta, tb, _, _ = clients(True)
        st = self_times(res["spans"])
        layers, lines = _layer_shares(st, sum(s[2] - s[1] for s in res["spans"]
                                              if s[0] == "server.request") * 1000)
        layers.update({
            "server.ttfb_pct": _share([r["ttfb"] for r in ta], [r["total"] for r in ta]),
            "server.export_ttfb_pct": _share([r["ttfb"] for r in tb], [r["total"] for r in tb]),
            "server.bytes_out": float(sum(r["bytes"] for r in tb)
                                      + sum(len(r["body"].encode()) for r in ta)),
            "trace.overhead_pct": _overhead(metrics["latency_p50_ms"], dash.kind_p50_mean(ta)),
            "trace.spans": float(len(res["spans"])),
        })
    return _assemble(metrics, info, layers, lines, res, attempted, failed, errors)


def run_pipeline(args, work: str, data: str, cfg: dict) -> dict:
    from perfbench.checks import check_batch, check_ingest

    eng = Engine(cfg, work)
    try:
        eng.expect("READY")
        setup_s = time.perf_counter() - eng.t0
        mark("setup")
        peak = eng.finish()
    finally:
        if eng.proc.poll() is None:
            eng.close()
    res = _child_result(cfg)
    cycles, sink = res["cycles"], res["sink"]
    failed, errors = check_batch(data, res["checks"], args.inject_wrong)
    f2, e2 = check_ingest(sink, cfg["batches"], res["ops"], [c["appended"] for c in cycles],
                          cycles[-1]["read"], args.inject_wrong)
    failed, errors = failed + f2, errors + e2
    replays, skipped = res["replays"], res["replays_skipped"]
    if skipped != replays:
        failed += replays - skipped
        errors.append(f"{replays - skipped} of {replays} replayed batches were written again")
    n_q = len(BATCH_QUERIES)
    # write step + read + report queries per cycle, replays, OPTIMIZEs, the DELETE
    attempted = len(cycles) * (2 + n_q) + 2 * replays + 1
    csv_bytes = sum(c["csv_bytes"] for c in cycles)

    def report_s(c):
        return sum(v["fn_s"] + v["exec_s"] for v in c["report"].values())

    def e2e(cs):
        ms = [(c["step_s"] + report_s(c)) * 1000 for c in cs]
        return {"latency_p50_ms": median(ms), "ops_per_s": len(cycles) / res["wall_s"],
                "rows_per_s": sum(c["rows"] for c in cs) / sum(c["step_s"] for c in cs)}

    plain = [c for c in cycles if not c["traced"]]
    metrics = dict(e2e(plain), setup_s=setup_s, peak_rss_mb=peak)
    info = {
        "cycles": len(plain),
        "ingest_rows_per_s": metrics["rows_per_s"],
        "write_step_p50_ms": median([c["step_s"] * 1000 for c in plain]),
        "upsert_p50_ms": median([c["upsert_s"] * 1000 for c in plain]),
        "sink_read_p50_ms": median([c["read_s"] * 1000 for c in plain]),
        "bytes_stored_per_user_byte": _du(sink) / csv_bytes,
        "batch_makespan_s": median([report_s(c) for c in plain]),
        "batch_cold_pass_s": sum(c["cold_s"] for c in res["checks"].values()),
    }
    layers, lines = {}, []
    if args.trace:
        traced = [c for c in cycles if c["traced"]]
        layers, lines = _layer_shares(self_times(res["spans"]),
                                      sum(c["cycle_s"] for c in traced) * 1000)
        for q in BATCH_QUERIES:
            layers[f"operators.{q}.spark_jobs"] = _mean(
                [c["report"][q]["spark_jobs"] for c in traced])
        layers.update({
            "writers.replay_skip_ratio": skipped / replays if replays else 0.0,
            "writers.bytes_written_per_user_byte": res["bytes_written"] / csv_bytes,
            "writers.files_per_partition": _files_per_partition(f"{sink}/served"),
            "trace.overhead_pct": _overhead(metrics["latency_p50_ms"],
                                            e2e(traced)["latency_p50_ms"]),
            "trace.spans": float(len(res["spans"])),
        })
    return _assemble(metrics, info, layers, lines, res, attempted, failed, errors)


# --- helpers -------------------------------------------------------------------

def _rows(data: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{data}/{table}.parquet").metadata.num_rows


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _overhead(untraced: float, traced: float) -> float:
    return (traced - untraced) / untraced * 100.0 if untraced else 0.0


def _share(part, whole) -> float:
    return 100.0 * sum(part) / sum(whole) if sum(whole) else 0.0


def _layer_shares(st: dict, traced_ms: float) -> tuple[dict, list[str]]:
    """Per-layer self-time shares of ``traced_ms`` keyed by metric name, and
    one printable line per span name with its calls and mean self time."""
    out = {"api.sql_calls": float(sum(len(v) for k, v in st.items() if k.startswith("api.sql.")))}
    lines = []
    for name, selfs in st.items():
        metric = {"server.request": "server.encode_write_pct"}.get(
            name, name.replace("api.sql.", "api.sql_pct.") if name.startswith("api.sql.")
            else f"{name}_pct")
        out[metric] = 100.0 * sum(selfs) / traced_ms if traced_ms else 0.0
        lines.append(f"{name} {_mean(selfs):.6g} ms/call self time, {len(selfs)} calls")
    return out, lines


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _files_per_partition(table: str) -> float:
    parts = [p for p in os.listdir(table) if "=" in p]
    files = [f for p in parts for f in os.listdir(f"{table}/{p}") if f.endswith(".parquet")]
    return len(files) / max(1, len(parts))


def _child_result(cfg: dict) -> dict:
    with open(cfg["result_path"]) as fh:
        res = json.load(fh)
    with open(cfg["spans_path"]) as fh:
        res["spans"] = [json.loads(ln) for ln in fh]
    return res


def _assemble(metrics, info, layers, lines, res, attempted, failed, errors) -> dict:
    return {"metrics": metrics, "info": info, "layers": dict(res["setup"], **layers),
            "layer_lines": lines, "attempted": attempted, "failed": failed, "errors": errors}


def _prune_data_cache(cache: str, keep: int = 4) -> None:
    dirs = sorted((os.path.join(cache, d) for d in os.listdir(cache)), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one checked result (tests that checks count failures)")
    ap.add_argument("--write-definitions", action="store_true",
                    help="rewrite BENCHMARK.json from the definitions in this file")
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the engine's process group is
    # stopped by Engine.close() on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.write_definitions:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(definitions(), fh, indent=2)
            fh.write("\n")
        return 0
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "olap_db_spark", "api.py")):
        print("olap_db_spark is not next to perfbench/; nothing to benchmark", file=sys.stderr)
        return 2

    scale = SCALES[args.scale]
    sf = scale["sf"]
    cache = os.path.join(BENCH_DIR, ".work", "data")
    os.makedirs(cache, exist_ok=True)
    data = datagen.write_tables(args.seed, sf, os.path.join(cache, f"sf{sf}-seed{args.seed}"))
    os.utime(data)
    _prune_data_cache(cache)
    mark("inputs")
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cfg = {"workload": args.workload, "data_dir": data, "work_dir": work,
           "seconds": args.seconds, "trace": bool(args.trace),
           "result_path": f"{work}/result.json", "spans_path": f"{work}/spans.jsonl",
           "min_cycles": scale["min_cycles"], "warm_s": scale["warm_s"],
           "queries": list(BATCH_QUERIES)}
    if args.workload == "pipeline":
        os.makedirs(f"{work}/csv")
        cfg["batches"] = []
        for k in range(64):
            rows = datagen.rankings_batch(args.seed, k, scale["csv_rows"])
            path = f"{work}/csv/batch-{k:03d}.csv"
            cfg["batches"].append((path, len(rows), datagen.write_rankings_csv(rows, path)))
    try:
        run = run_dashboard if args.workload == "dashboard" else run_pipeline
        out = run(args, work, data, cfg)
    except Exception:
        print(f"run failed; engine log kept in {work}", file=sys.stderr)
        raise
    shutil.rmtree(work, ignore_errors=True)
    mark("checks")

    units = {n: u for n, u, _, _ in END_TO_END}
    units.update(per_layer_defs())
    cpus = len(os.sched_getaffinity(0))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
                      "cpus": cpus, "driver_memory": DRIVER_MEMORY, "sf": sf,
                      "seconds": args.seconds, "trace": args.trace}))
    print("timeline " + " ".join(f"{p}={t:.1f}s" for p, t in TIMELINE))
    for k, v in out["info"].items():
        print(f"{args.workload}.{k} {v:.6g}")
    print(f"{args.workload}.error_rate {out['failed'] / max(1, out['attempted']):.6g} ratio "
          f"(failed {out['failed']} of {out['attempted']})")
    for line in out["layer_lines"]:
        print(f"layer {line}")
    for e in out["errors"]:
        print(f"CHECK FAILED: {e}")
    if args.trace:
        chosen = {n: out["layers"].get(n, 0.0) for n, _ in per_layer_defs()}
    else:
        chosen = {n: out["metrics"][n] for n, _, _, _ in END_TO_END}
    for n, v in chosen.items():
        print(f"{n} {v:.6g} {units[n]}")
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
