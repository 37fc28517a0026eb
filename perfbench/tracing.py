"""Layer timing from outside the program, used only by traced runs.

A layer's self time is measured by materialising cumulative prefixes
of a workload's pipeline with the ``noop`` sink: self(n) =
prefix(n) - prefix(n-1). Each materialisation runs under its own
``setJobGroup``, and the status tracker gives the jobs and tasks it
launched. Streaming splits come from each micro-batch's
``durationMs`` in ``recentProgress``.
"""

from __future__ import annotations

import os
import resource
import statistics
import time
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import DataFrame


@dataclass
class Span:
    seconds: float
    jobs: int
    tasks: int


class Tracker:
    """Runs callables under fresh job groups and counts their work."""

    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.n = 0

    def run(self, label: str, fn) -> Span:
        group = f"perfbench-{label}-{self.n}"
        self.n += 1
        self.sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            dt = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs, tasks = self.counts(group)
        return Span(dt, jobs, tasks)

    def counts(self, group: str, settle_s: float = 5.0) -> tuple[int, int]:
        """(jobs, completed tasks) of a job group. A streaming query
        runs its micro-batch jobs under its own group, the query's
        ``runId``. The status store is fed asynchronously by the
        listener bus, so wait until every job of the group has ended
        before counting."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + settle_s
        while True:
            ids = st.getJobIdsForGroup(group)
            infos = [st.getJobInfo(j) for j in ids]
            done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        tasks = 0
        for info in infos:
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(ids), tasks


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefixes(tracker: Tracker, stages: list[tuple[str, object]], repeats: int = 2) -> dict:
    """Materialise each cumulative prefix ``repeats`` times and return
    {label: (self_s, tasks)}: self time is the prefix's best time minus
    the previous prefix's (the best of the repeats drops the one that
    compiled the plan), tasks are those the prefix launched (a
    narrow layer fuses into its input's stages and adds none).
    ``stages`` is an ordered list of (label, callable) where each
    callable runs the pipeline up to and including that layer."""
    out = {}
    prev_s = 0.0
    for label, fn in stages:
        spans = [tracker.run(label, fn) for _ in range(repeats)]
        s = min(sp.seconds for sp in spans)
        out[label] = (s - prev_s, spans[-1].tasks)
        prev_s = s
    return out


def untraced(fn, repeats: int = 2) -> float:
    """Best wall time of ``fn`` run without a job group, the baseline
    of ``trace.overhead`` (compared with the best traced time)."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return min(times)


def stream_splits(progress: list[dict]) -> dict:
    """Per-micro-batch durationMs roll-up of a finished query. Empty
    trailing progress entries (no input rows) are not batches."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    te = [p["durationMs"].get("triggerExecution", 0) for p in batches]
    ab = [p["durationMs"].get("addBatch", 0) for p in batches]
    return {
        "batches": len(batches),
        "trigger_ms": te,
        "add_batch_s": sum(ab) / 1000.0,
        "trigger_s": sum(te) / 1000.0,
        "overhead_ms": statistics.median(t - a for t, a in zip(te, ab)) if te else 0.0,
    }


def files_written(out_dir: str) -> int:
    """Data files committed under a sink directory tree."""
    n = 0
    for root, _dirs, files in os.walk(out_dir):
        if "_checkpoint" in root:
            continue
        n += sum(1 for f in files if f.startswith("part-"))
    return n


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver JVM high-water RSS plus this process's."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        mb += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return mb
