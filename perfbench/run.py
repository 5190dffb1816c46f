"""Benchmark of xorfilter_spark's build -> probe and ingest -> sketch dataflows.

    python3 perfbench/run.py --workload build-probe --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` prints the per-layer metrics: a
Spark-free microbench, then the workload once untraced and once traced
(event log on, job groups per call), same-box floors, and the per-op table.
The last line of standard output is one JSON object.  See README.md here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")

PATHS = ("write", "read")
# Per-op columns kept as per-layer metrics, pooled per path.  Fetch wait,
# retries and broadcast bytes are often exactly 0 and stay in the table.
LAYER_COLUMNS = (
    ("wall_s", "s"), ("proc_cpu_s", "s"), ("task_s", "s"), ("task_cpu_s", "s"),
    ("gc_s", "s"), ("tasks", "count"), ("python_init_s", "s"), ("python_run_s", "s"),
    ("arrow_bytes_in", "bytes"), ("arrow_bytes_out", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"), ("driver_s", "s"),
)
HASH_ROWS = 100_000_000


def _env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def start_spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName("xorfilter-perfbench")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={WORK}/tmp")
        .config("spark.local.dir", os.path.join(WORK, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # read by the event-log listener a traced run attaches
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.logBlockUpdates.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM the gateway launched and every process under
    it (the Python worker daemon and its workers), and wait until each has
    ended.  The JVM would otherwise outlive this process for a while."""
    from pyspark import SparkContext

    from spans import descendants, end_all

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = SparkContext._jvm = None
                proc = gateway.proc
                proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        end_all(started)


def _measure(w, seconds: int) -> None:
    """The closed loop: one call in flight, cycles until ``seconds`` pass."""
    t0 = time.perf_counter()
    while True:
        w.cycle()
        if time.perf_counter() - t0 >= seconds:
            break


def run_workload(workload_cls, seed: int, seconds: int, trace: bool) -> dict:
    """Start Spark, set the workload up (warm-ups included) and measure it
    untraced.  With ``trace``, then attach the event log, tag every call
    with a job group, measure again, run the same-box floors and the
    digest layer, and parse the log into per-span rows."""
    from spans import EventLog, Tracer, parse_event_log
    from workloads import Run

    t0 = time.perf_counter()
    spark = None
    tracer = Tracer()
    layers, log_path = {}, None
    try:
        spark = start_spark()
        run = Run(spark, tracer, WORK, seed)
        w = workload_cls(run)
        w.setup()
        setup_s = time.perf_counter() - t0
        _measure(w, seconds)
        if trace:
            log = EventLog(spark.sparkContext, os.path.join(WORK, "eventlog"))
            tracer.trace(spark.sparkContext)
            try:
                _measure(w, seconds)
                layers = _floors(run, w)
            finally:
                log_path = log.close()
    finally:
        stop_spark(spark)
    rows = {}
    if trace:
        traced = [s for s in tracer.spans if s["phase"] == "traced"]
        rows = parse_event_log(log_path, traced)
        for s in traced:
            for col in ("kernel_build_s", "retries"):
                rows[s["id"]][col] = s.get(col, 0.0)
    return {"setup_s": setup_s, "spans": tracer.spans, "rows": rows, "run": run, "layers": layers}


def _timed_once(run, name: str, fn) -> float:
    """Wall seconds of ``fn`` on its second call (the first warms up)."""
    for _ in range(2):
        with run.tracer.span(name) as rec:
            fn()
    return rec["wall_s"]


def _floors(run, w) -> dict[str, float]:
    """Same-box floors on the workload's own inputs, and the digest layer."""
    from pyspark.sql import functions as F

    from xorfilter_spark import bank as B

    (probes, keys, n_probes, members), (rows, n_rows) = w.floor_inputs()
    out = {}

    def semi_join():
        found: list[int] = []
        query = lambda: found.append(probes.join(F.broadcast(keys), "k", "left_semi").count())
        out["floor.semi_join_keys_per_s"] = n_probes / _timed_once(run, "floor_semi_join", query)
        run.check(found == [members, members], f"floor semi join: {found} rows != {members}")

    def native_sketch():
        def query():
            rows.agg(F.hll_sketch_agg("k"), F.kll_sketch_agg_double("v")).collect()
            rows.groupBy("g").agg(F.hll_sketch_agg("k")).count()
        out["floor.native_sketch_rows_per_s"] = n_rows / _timed_once(run, "floor_native_sketch", query)

    def digest():
        query = lambda: run.spark.range(HASH_ROWS).select(B.digest_col("id")).write.format("noop").mode("overwrite").save()
        out["hashing.digest_keys_per_s"] = HASH_ROWS / _timed_once(run, "digest", query)

    for fn in (semi_join, native_sketch, digest):
        run.attempt(fn)
    return out


def _timed_spans(result: dict, phase: str) -> list[dict]:
    return [s for s in result["spans"]
            if s.get("timed") and s["phase"] == phase and "error" not in s]


def end_to_end(phase: dict) -> dict[str, tuple[float, str]]:
    run = phase["run"]
    out = {"setup_s": (phase["setup_s"], "s")}
    timed = _timed_spans(phase, "untraced")
    for path, name in (("write", "write_keys_per_s"), ("read", "read_rows_per_s")):
        spans = [s for s in timed if s["path"] == path]
        wall = sum(s["wall_s"] for s in spans)
        out[name] = (sum(s["keys"] for s in spans) / wall if wall else 0.0, "1/s")
    out["bits_per_key"] = (8 * run.space_bytes / run.space_keys if run.space_keys else 0.0, "bits")
    out["fpp"] = (run.fp_hits / run.fp_probes if run.fp_probes else 0.0, "ratio")
    return out


def op_table(phase: dict) -> dict[str, dict]:
    """Per op name: call count and the mean of every column over its calls
    (timed calls only for timed ops)."""
    by_name: dict[str, list[dict]] = {}
    for s in phase["spans"]:
        if s["phase"] != "traced" or (s["parent"] is not None and s["name"] != "probe_setup"):
            continue
        key = s["name"] if s.get("timed") or s["name"] == "probe_setup" else s["name"] + " (untimed)"
        by_name.setdefault(key, []).append(phase["rows"][s["id"]])
    table = {}
    for name, rows in by_name.items():
        cols = {c: statistics.fmean(r[c] for r in rows) for c in rows[0] if c != "stages"}
        stages: dict[str, dict] = {}
        for r in rows:
            for site, st in r["stages"].items():
                acc = stages.setdefault(site, {k: 0.0 for k in st})
                for k, v in st.items():
                    acc[k] += v / len(rows)
        table[name] = {"calls": len(rows), **cols, "stages": stages}
    return table


def per_layer(micro: dict, result: dict, table: dict) -> dict[str, tuple[float, str]]:
    out = {k: (v, "1/s") for k, v in micro.items()}
    out.update({k: (v, "1/s") for k, v in result["layers"].items()})
    timed = {s["name"]: s["path"] for s in _timed_spans(result, "traced")}
    for path in PATHS:
        names = [n for n, p in timed.items() if p == path]
        for col, unit in LAYER_COLUMNS:
            out[f"{path}.{col}"] = (sum(table[n][col] for n in names), unit)
        if path == "write":
            out["write.kernel_build_s"] = (sum(table[n]["kernel_build_s"] for n in names), "s")

    def medians(phase):
        walls: dict[str, list[float]] = {}
        for s in _timed_spans(result, phase):
            walls.setdefault(s["name"], []).append(s["wall_s"])
        return {n: statistics.median(v) for n, v in walls.items()}

    mb, mt = medians("untraced"), medians("traced")
    common = [n for n in mt if n in mb]
    out["trace_overhead_ratio"] = (
        sum(mt[n] for n in common) / sum(mb[n] for n in common) if common else 0.0, "ratio"
    )
    return out


def _print_summary(phase: dict) -> None:
    for s in phase["spans"]:
        if not s.get("timed") and s["parent"] is None:
            print(f"# untimed {s['name']:<24} wall_s={s['wall_s']:.3f}")
    walls: dict[str, list[dict]] = {}
    for s in _timed_spans(phase, "untraced"):
        walls.setdefault(s["name"], []).append(s)
    for name, spans in walls.items():
        w = [s["wall_s"] for s in spans]
        rate = [s["keys"] / s["wall_s"] for s in spans]
        print(f"# {name:<14} n={len(w):<2} wall_s p50={statistics.median(w):.3f} "
              f"min={min(w):.3f} max={max(w):.3f}  keys/s p50={statistics.median(rate):,.0f} "
              f"cpu_s p50={statistics.median(s['proc_cpu_s'] for s in spans):.3f} "
              f"steal_s p50={statistics.median(s['steal_s'] for s in spans):.3f}")


def _print_table(table: dict) -> None:
    cols = ("calls",) + tuple(c for c, _ in LAYER_COLUMNS) + (
        "shuffle_fetch_wait_s", "broadcast_bytes", "kernel_build_s", "retries")
    print("# per-op means: " + " ".join(cols))
    for name, row in table.items():
        print(f"# {name:<32} " + " ".join(f"{row[c]:.4g}" for c in cols))
        for site, st in row["stages"].items():
            site = site.replace(ROOT + os.sep, "")
            print(f"#     stage {site[:60]:<60} " + " ".join(f"{k}={v:.4g}" for k, v in st.items()))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    import workloads  # imports the package under test; fails outside a checkout

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    _env()
    workload_cls = workloads.WORKLOADS[args.workload]
    failures: list[str] = []
    micro_metrics = {}
    if args.trace:
        import micro  # Spark-free, before any JVM starts

        micro_metrics = micro.run(args.seed, lambda ok, what: ok or failures.append(what))
    result = run_workload(workload_cls, args.seed, args.seconds, bool(args.trace))
    run = result["run"]
    _print_summary(result)
    if args.trace:
        table = op_table(result)
        metrics = per_layer(micro_metrics, result, table)
        _print_table(table)
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": result["spans"], "ops": table}, f, indent=1, default=str)
    else:
        metrics = end_to_end(result)
    attempted = run.attempted + (1 if args.trace else 0)
    failed = run.failed + (1 if failures else 0)
    failures += run.failures
    shutil.rmtree(WORK, ignore_errors=True)
    for f in failures[:20]:
        print(f"# FAILED: {f}")
    if len(failures) > 20:
        print(f"# ... and {len(failures) - 20} more failed checks")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
