"""Benchmark entry point: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root (any cwd works; paths resolve from this
file). Steps: generate the workload's inputs from ``--seed`` (timed as
``bench.generate_s``), set up a Spark session once (``setup_s``: the
session, serve's registry training and the warm-up passes), then run
closed-loop operations for
``--seconds`` and report the end-to-end metrics. ``--trace 1`` instead
runs one untraced operation and the layer breakdown. Everything the
run writes lives under ``perfbench/.work/`` and is removed at exit.

stdout: one ``metric`` line per metric, one ``env`` line, and as the
last line ``{"correct", "attempted", "failed", "metrics"}``.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "htmlentityextraction_spark"

#: the batch_tail_ms percentile (also stated in BENCHMARK.json)
TAIL_PCT = 75

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
    "wall_s": "s",
}

PER_LAYER = {
    "bench.generate_s": "s",
    "bench.input_scan_s": "s",
    "mem.peak_rss_mb": "MB",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
    "schemas.parse_s": "s",
    "schemas.parse_tasks": "count",
    "functions.text.shrink_s": "s",
    "functions.text.shrink_tasks": "count",
    "operators.extraction.extract_s": "s",
    "operators.extraction.python_tasks": "count",
    "operators.extraction.candidates": "count",
    "operators.extraction.candidates_per_page": "ratio",
    "operators.extraction.label_s": "s",
    "operators.extraction.label_tasks": "count",
    "operators.models.featurize_s": "s",
    "operators.models.featurize_tasks": "count",
    "operators.models.score_s": "s",
    "operators.models.score_tasks": "count",
    "operators.models.pick_s": "s",
    "operators.models.pick_tasks": "count",
    "operators.models.train_s": "s",
    "operators.models.train_tasks": "count",
    "operators.models.domains_trained": "count",
    "operators.gbt.fit_ms_largest_domain": "ms",
    "streaming.serve.status_s": "s",
    "streaming.serve.sink_s": "s",
    "streaming.serve.trigger_overhead_ms": "ms",
    "streaming.serve.jobs_per_batch": "ratio",
    "streaming.serve.files_written": "count",
    "streaming.serve.batches": "count",
    "streaming.pipeline.enrich_s": "s",
    "streaming.pipeline.enrich_tasks": "count",
    "streaming.pipeline.sink_s": "s",
    "streaming.pipeline.trigger_overhead_ms": "ms",
    "streaming.pipeline.jobs_per_batch": "ratio",
    "streaming.pipeline.files_written": "count",
    "streaming.pipeline.batches": "count",
    "sources.tables.scan_s": "s",
    "sources.tables.scan_tasks": "count",
    "plans.prod_metrics.price_delta_market_position_s": "s",
    "plans.prod_metrics.price_delta_market_position_tasks": "count",
    "queries.analytics2.bad_domain_analysis_s": "s",
    "queries.analytics2.bad_domain_analysis_tasks": "count",
    "queries.analytics2.hotspots_hot_level_s": "s",
    "queries.analytics2.hotspots_hot_level_tasks": "count",
    "queries.analytics2.rt2report_competitor_summary_s": "s",
    "queries.analytics2.rt2report_competitor_summary_tasks": "count",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "learn", "ingest", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test runs tiny sizes)")
    return ap.parse_args(argv)


def task_slots() -> int:
    """Spark task slots: half the CPUs this process may use. A task of
    the Python-UDF layers keeps two processes busy at once (its JVM
    task thread and the Python worker it streams rows to), so half the
    CPUs as slots already fills every CPU; one slot per CPU also
    queues the JIT and GC threads behind the tasks and makes the timed
    operations follow the host's load (README.md, Steadiness)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def environment(work: str) -> None:
    """Point every scratch path of Spark, the JVM and Python workers at
    the work dir, make the package importable by Python workers
    started from any cwd, and size the session's master."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    # the package's own knob: get_spark() builds local[$SPARK_GRAFT_CPUS]
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    os.environ.pop("SPARK_MASTER", None)
    sys.path[:0] = [ROOT]


def session_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}"),
    }


def setup(w, work: str):
    """get_spark + prepare (serve: train) + warm-ups, timed."""
    from htmlentityextraction_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", **session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    w.prepare(spark)
    t2 = time.perf_counter()
    for _ in range(w.warmups):
        w.warmup(spark)
    t3 = time.perf_counter()
    print(f"perfbench: setup session {t1 - t0:.2f}s prepare {t2 - t1:.2f}s "
          f"warm-up {t3 - t2:.2f}s", file=sys.stderr)
    return spark, t3 - t0


def tail(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[TAIL_PCT - 1]


def measure(w, spark, seconds: float):
    """Closed loop: one operation at a time for about ``seconds``."""
    from workloads import Op

    ops, streak = [], 0
    t0 = time.perf_counter()
    # another operation starts only while at least half of one still
    # fits in the window, so a run measures about ``seconds``
    while not ops or time.perf_counter() - t0 + ops[-1].seconds / 2 < seconds:
        try:
            op = w.op(spark)
            streak = 0
        except Exception:  # a failed operation is recorded, not fatal
            traceback.print_exc()
            op = Op(0.0, 0, attempted=1, failed=1, note="raised")
            streak += 1
        ops.append(op)
        if op.note:
            print(f"perfbench: {w.name}: {op.note}", file=sys.stderr)
        if streak >= 3:
            break
    return ops


def summarise(ops, setup_s: float) -> dict:
    good = [o for o in ops if o.seconds > 0]
    batches = [b for o in good for b in o.batch_ms]
    secs = sum(o.seconds for o in good)
    return {
        "setup_s": setup_s,
        "items_per_s": sum(o.items for o in good) / secs if secs else 0.0,
        "batch_p50_ms": statistics.median(batches) if batches else 0.0,
        "batch_tail_ms": tail(batches) if batches else 0.0,
        "wall_s": statistics.median(o.seconds for o in good) if good else 0.0,
    }


def stop() -> None:
    """Stop the active session and the JVM it launched, and wait for
    both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str, loadavg: float) -> dict:
    import workloads

    w = workloads.WORKLOADS[args.workload](work, args.seed, args.scale)
    t0 = time.perf_counter()
    w.generate()
    generate_s = time.perf_counter() - t0

    try:
        spark, setup_s = setup(w, work)
        return _measure(args, w, spark, setup_s, generate_s, loadavg)
    finally:
        stop()


def _measure(args, w, spark, setup_s: float, generate_s: float, loadavg: float) -> dict:
    import tracing

    sc = spark.sparkContext
    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": sc.master, "defaultParallelism": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_start": loadavg,
        "spark": spark.version, "python": sys.version.split()[0],
        "inputs": w.sizes, "generate_s": round(generate_s, 3),
    }
    if args.trace:
        layers, base = w.layers(spark, tracing.Tracker(sc))
        ops = [base]
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(layers)
        metrics["bench.generate_s"] = generate_s
        metrics["mem.peak_rss_mb"] = tracing.peak_rss_mb(jvm_pid())
        units = PER_LAYER
    else:
        ops = measure(w, spark, args.seconds)
        metrics = summarise(ops, setup_s)
        units = END_TO_END
    if args.workload == "analytics" and not args.trace:
        ops.append(w.check(spark, w.oracle_hashes()))
    attempted = sum(o.attempted for o in ops)
    failed = sum(o.failed for o in ops)
    env["ops"] = len(ops)
    env["batches"] = sum(len(o.batch_ms) for o in ops)
    env["failed_ratio"] = failed / attempted
    return {
        "env": env,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        },
    }


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def main(argv=None) -> int:
    args = parse_args(argv)
    loadavg = os.getloadavg()[0]
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    environment(work)
    try:
        out = run(args, work, loadavg)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, m in out["result"]["metrics"].items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    print(f"metric failed_ratio {out['env']['failed_ratio']:.6g} ratio")
    print("env " + json.dumps(out["env"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
