"""Self-test of the benchmark itself, at tiny input sizes.

    python3 perfbench/selftest.py

1. Runs every workload (serve, learn, ingest, analytics) untraced and
   traced through run.py and checks the result line: exactly the keys
   correct/attempted/failed/metrics, ``correct`` true, and every metric
   BENCHMARK.json names printed with its unit (plus ``failed_ratio``).
2. Hands each correctness gate a deliberately wrong expected value and
   checks that it fails, after checking that it passes on the true one.
3. Checks that the serve trace's copy of ``score_pages_batch``'s chain
   gives the program's model price for every page, and that this
   check fails on a drifted copy.
4. Checks that the planted marker's hashed term id collides with no
   other generated token, which the serve gate relies on.
5. Runs run.py from a directory holding only BENCHMARK.json and
   perfbench/, which must exit non-zero without printing a result.

Exits 0 when every check passes; prints each failure otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
SCALE = "0.1"

sys.path[:0] = [HERE]
import run  # noqa: E402


class Failures(list):
    def expect(self, ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            self.append(what)


def check_runs(bench: dict, fails: Failures) -> None:
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    fails.expect(wanted[0] == run.END_TO_END, "BENCHMARK.json end_to_end == run.END_TO_END")
    fails.expect(wanted[1] == run.PER_LAYER, "BENCHMARK.json per_layer == run.PER_LAYER")
    for workload in ("serve", "learn", "ingest", "analytics"):
        for trace in (0, 1):
            what = f"{workload} --trace {trace}"
            p = subprocess.run(
                [sys.executable, RUN, "--workload", workload, "--seed", "1", "--seconds", "1",
                 "--trace", str(trace), "--scale", SCALE],
                capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                fails.expect(False, f"{what}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            fails.expect(set(result) == RESULT_KEYS, f"{what}: result keys {sorted(result)}")
            fails.expect(result["correct"] is True and result["failed"] == 0
                         and result["attempted"] >= 1, f"{what}: correct, attempted >= 1")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            fails.expect(got == wanted[trace], f"{what}: every metric with its unit")
            printed = {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}
            fails.expect(all(printed.get(k) == u for k, u in wanted[trace].items())
                         and "failed_ratio" in printed, f"{what}: metric lines name and unit")


def check_gates(work: str, fails: Failures) -> None:
    run.environment(work)
    import gen
    import workloads as wl
    from pyspark.sql import functions as F

    from htmlentityextraction_spark.session import get_spark

    spark = get_spark("perfbench-selftest", **run.session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        serve = wl.Serve(os.path.join(work, "serve"), 1, float(SCALE))
        serve.generate()
        serve.prepare(spark)
        _dt, _holder, out = serve.drain(spark, serve.src)
        fails.expect(not wl.check_serve(out, serve.expect, serve.n_corrupt),
                     "serve gate passes the true planted prices")
        url = next(u for u, (p, _s) in serve.expect.items() if p > 0)
        wrong = dict(serve.expect)
        wrong[url] = (wrong[url][0] + 1.0, wrong[url][1])
        fails.expect(bool(wl.check_serve(out, wrong, serve.n_corrupt)),
                     "serve gate fails on a wrong planted price")
        fails.expect(bool(wl.check_serve(out, serve.expect, serve.n_corrupt + 1)),
                     "serve gate fails on a wrong corrupt-message count")
        chain = serve.chain(spark)
        fails.expect(wl.check_serve_chain(chain, serve.registry) == 0,
                     "traced serve chain gives score_pages_batch's model prices")
        drifted = dict(chain, pick=chain["pick"].withColumn("model_price",
                                                            F.col("model_price") + 1))
        fails.expect(wl.check_serve_chain(drifted, serve.registry) > 0,
                     "serve chain check fails on a drifted copy")

        learn = wl.Learn(os.path.join(work, "learn"), 1, float(SCALE))
        learn.generate()
        reg = wl.train_registry(spark, learn.path)
        fails.expect(not wl.check_learn(reg, learn.n_domains), "learn gate passes")
        fails.expect(bool(wl.check_learn(reg, learn.n_domains + 1)),
                     "learn gate fails on a wrong two-class domain count")

        ingest = wl.Ingest(os.path.join(work, "ingest"), 1, float(SCALE))
        ingest.generate()
        _dt, holder, out = ingest.drain(spark, ingest.src)
        bad, problems = wl.check_ingest(out, holder.metrics, ingest.items, ingest.per_file)
        fails.expect(bad == 0 and not problems, "ingest gate passes")
        _bad, problems = wl.check_ingest(out, holder.metrics, ingest.items + 1, ingest.per_file)
        fails.expect(bool(problems), "ingest gate fails on a wrong event count")
        bad, _problems = wl.check_ingest(out, holder.metrics, ingest.items, ingest.per_file + 1)
        fails.expect(bad > 0, "ingest gate fails batches of a wrong size")

        analytics = wl.Analytics(os.path.join(work, "analytics"), 1, float(SCALE))
        analytics.generate()
        hashes = analytics.oracle_hashes()
        fails.expect(analytics.check(spark, hashes).failed == 0, "analytics gate passes")
        wrong = dict(hashes, bad_domain_analysis="0" * 16)
        fails.expect(analytics.check(spark, wrong).failed == 1,
                     "analytics gate fails on a wrong oracle hash")

        tokens = sorted({*gen.FILLER, *" ".join(gen.DECOYS).replace("$", " ").split()})
        bucket = F.pmod(F.xxhash64("t"), F.lit(1000))
        rows = spark.createDataFrame([(t,) for t in tokens + [gen.PLANT_WORD]], "t string")
        ids = {r["t"]: r["b"] for r in rows.select("t", bucket.alias("b")).collect()}
        fails.expect(ids[gen.PLANT_WORD] not in {ids[t] for t in tokens},
                     "planted marker's term id collides with no other token")
    finally:
        run.stop()


def check_bare_dir(work: str, fails: Failures) -> None:
    bare = os.path.join(work, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
                        "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    fails.expect(p.returncode != 0 and "correct" not in p.stdout,
                 "without the package: non-zero exit, no result")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    fails = Failures()
    try:
        check_bare_dir(work, fails)
        check_runs(bench, fails)
        check_gates(work, fails)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(fails)} failure(s)")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
