"""The four benchmark workloads: serve, learn, ingest, analytics.

Each workload writes its seeded inputs under its work directory
(``generate``), prepares a session (``prepare`` and ``warmup``: serve
trains the registry it serves with), runs one closed-loop operation at
a time (``op``) and judges that operation's output against the
generator's truth (the correctness gates). ``layers`` is the traced
breakdown; it runs only with ``--trace 1``: cumulative prefixes first,
then one untraced operation, whose stream jobs are counted afterwards.

The program is called only through its public functions; the
``queries/ml`` memo caches are bypassed on purpose so every pass
really trains.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import tracing as tr
from htmlentityextraction_spark import schemas
from htmlentityextraction_spark.functions.text import get_domain, shrink_string
from htmlentityextraction_spark.operators import extraction as ex
from htmlentityextraction_spark.operators import models as md
from htmlentityextraction_spark.operators.gbt import GBTClassifier
from htmlentityextraction_spark.plans import prod_metrics
from htmlentityextraction_spark.queries import analytics2
from htmlentityextraction_spark.registry import oracles
from htmlentityextraction_spark.sources.tables import load_table
from htmlentityextraction_spark.streaming import pipeline, serve
from tools.check_correctness import frame_hash

# status names the serve sinks route as passing (realtime/)
PASSING = ("modeledPatternEquals", "minorModelPatternConflict", "majorModelPatternConflict")


@dataclass
class Op:
    """One measured operation: its wall time, items processed, the
    latencies of its batches (ms), and how many batches it attempted
    and failed (raised or wrong output)."""

    seconds: float
    items: int
    batch_ms: list = field(default_factory=list)
    attempted: int = 1
    failed: int = 0
    note: str = ""


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _write_files(table: pa.Table, d: str, n_files: int) -> None:
    _fresh(d)
    per = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * per, per), os.path.join(d, f"part-{f:04d}.parquet"))


class Workload:
    name = ""
    #: warm-up operations run by setup (setup time includes them)
    warmups = 1

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        os.makedirs(work, exist_ok=True)
        self.work = work
        self.seed = seed
        self.scale = scale
        self.sizes: dict = {}
        self._runs = 0

    def n(self, base: int, floor: int = 1) -> int:
        return max(int(base * self.scale), floor)

    def out_dir(self) -> str:
        self._runs += 1
        return _fresh(os.path.join(self.work, f"out-{self._runs}"))

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Setup work besides warm-ups (serve trains its registry)."""

    def warmup(self, spark) -> None:
        self.op(spark)

    def op(self, spark) -> Op:
        raise NotImplementedError

    def layers(self, spark, tracker: tr.Tracker) -> tuple[dict, Op]:
        raise NotImplementedError

    def fold_in(self, other: "Workload", spark, tracker: tr.Tracker, m: dict, base: Op) -> None:
        """Trace ``other``, a workload not timed on its own (ingest,
        analytics), inside this traced run: its layer metrics join
        ``m``, its correctness gate joins ``base``, its input sizes join
        this run's. A stream is warmed up as in its own runs;
        analytics needs no warm-up, as its best-of-2 prefixes drop the
        compiling run."""
        other.generate()
        if isinstance(other, StreamWorkload):
            for _ in range(other.warmups):
                other.warmup(spark)
        o_m, o_base = other.layers(spark, tracker)
        m.update((k, v) for k, v in o_m.items() if not k.startswith(("trace.", "bench.")))
        base.attempted += o_base.attempted
        base.failed += o_base.failed
        base.note = "; ".join(n for n in (base.note, o_base.note) if n)
        self.sizes[other.name] = other.sizes


class StreamWorkload(Workload):
    """A backlog of files drained by one availableNow query per
    operation, one file per micro-batch, into fresh sink and
    checkpoint dirs that are deleted afterwards."""

    src = ""
    items = 0

    def start(self, spark, src: str, out: str):
        """Start the query over ``src`` writing to ``out``; return the
        program's StreamingQueryHolder."""
        raise NotImplementedError

    def check(self, out: str, holder) -> tuple[int, list[str]]:
        """(failed micro-batches, problems) of a finished drain."""
        raise NotImplementedError

    def drain(self, spark, src: str):
        out = self.out_dir()
        t0 = time.perf_counter()
        holder = self.start(spark, src, out)
        holder.await_done()
        dt = time.perf_counter() - t0
        if holder.query.exception() is not None:
            raise RuntimeError(str(holder.query.exception()))
        return dt, holder, out

    def _checked_drain(self, spark):
        dt, holder, out = self.drain(spark, self.src)
        split = tr.stream_splits(holder.query.recentProgress)
        try:
            bad, problems = self.check(out, holder)
        except Exception:
            shutil.rmtree(out, ignore_errors=True)
            raise
        n = split["batches"]
        op = Op(dt, self.items, split["trigger_ms"], attempted=n,
                failed=n if problems else bad, note="; ".join(problems))
        return op, holder, split, out

    def op(self, spark) -> Op:
        op, _holder, _split, out = self._checked_drain(spark)
        shutil.rmtree(out, ignore_errors=True)
        return op

    def stream_layers(self, spark, tracker: tr.Tracker, staged_s: float, untraced_s: float):
        """One untraced, checked drain: its micro-batch jobs (counted
        afterwards under the query's own job group, its runId),
        durationMs splits and committed files. Sink time is addBatch
        minus ``staged_s``, the prefix-measured compute of the same
        backlog. Trace overhead compares that staged compute with the
        same full chain run without a job group (``untraced_s``)."""
        base, holder, split, out = self._checked_drain(spark)
        jobs, _tasks = tracker.counts(str(holder.query.runId))
        files = tr.files_written(out)
        shutil.rmtree(out, ignore_errors=True)
        m = {
            "sink_s": split["add_batch_s"] - staged_s,
            "trigger_overhead_ms": split["overhead_ms"],
            "jobs_per_batch": jobs / max(split["batches"], 1),
            "files_written": files,
            "batches": split["batches"],
        }
        trace = {
            # in-trigger time (prefix-measured compute + sink + trigger
            # overhead); the rest of the drain is query start and stop
            "trace.coverage": split["trigger_s"] / base.seconds,
            "trace.overhead": staged_s / untraced_s - 1.0,
        }
        return m, trace, base


# --------------------------------------------------------------- serve


class Serve(StreamWorkload):
    """JSON page backlog staged as parquet, drained by serve_stream."""

    name = "serve"
    corrupt_every = 200
    #: training pages for the registry fitted at setup
    train_pages = 320
    #: backlog files (one per micro-batch) and pages per file
    files = 3
    pages_per_file = 2000

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        n_dom = self.n(16, 5)
        train = gen.pages(rng, self.n(self.train_pages, 60), n_dom, f"t{self.seed}")
        if gen.domains_with_both_classes(train) != n_dom:
            raise RuntimeError("every training domain must have both classes")
        n_files = self.files if self.scale >= 1 else 2
        per_file = self.n(self.pages_per_file, 40)
        pg = gen.pages(rng, n_files * per_file, n_dom, f"s{self.seed}", unknown_domains=2, floor=4)
        msgs = gen.page_messages(pg, corrupt_every=self.corrupt_every)
        self.train = os.path.join(self.work, "train.parquet")
        pq.write_table(gen.training_table(train), self.train)
        self.src = os.path.join(self.work, "backlog")
        _write_files(pa.table({"value": msgs}), self.src, n_files)
        # the warm-up drains one micro-batch's file of the backlog
        self.warm_src = _fresh(os.path.join(self.work, "warm"))
        shutil.copy(os.path.join(self.src, "part-0000.parquet"), self.warm_src)
        self.items = len(msgs)
        self.expect, self.n_corrupt = {}, 0
        for i, url in enumerate(pg["url"]):
            if i % self.corrupt_every == self.corrupt_every - 1:
                self.n_corrupt += 1
                continue
            mp, status = gen.expected_status(
                bool(pg["positive"][i]), bool(pg["known"][i]), str(pg["kind"][i]))
            self.expect[url] = (float(pg["price"][i]) if mp is None else mp, status)
        self.sizes = {"pages": self.items, "train_pages": len(train["url"]),
                      "mb": round(sum(len(m) for m in msgs) / 1e6, 3),
                      "html_mb": round(sum(len(h) for h in pg["html"]) / 1e6, 3),
                      "candidates": pg["candidates"], "files": n_files,
                      "domains": int(len(set(pg["domain_idx"])))}

    def prepare(self, spark) -> None:
        # the fit size the repo's own serve query trains with
        self.registry = train_registry(spark, self.train, n_estimators=10, max_depth=3)
        bad = [r["domain"] for r in self.registry if r["train_f1"] != 1.0]
        if bad:
            raise RuntimeError(f"serve registry: domains with train_f1 != 1: {bad}")

    def warmup(self, spark) -> None:
        _dt, _holder, out = self.drain(spark, self.warm_src)
        shutil.rmtree(out, ignore_errors=True)

    def start(self, spark, src: str, out: str):
        raw = spark.readStream.schema("value string").option("maxFilesPerTrigger", 1).parquet(src)
        return serve.serve_stream(spark, raw, self.registry, out)

    def check(self, out: str, holder) -> tuple[int, list[str]]:
        return 0, check_serve(out, self.expect, self.n_corrupt)

    def chain(self, spark) -> dict:
        """The batch twin of the serve micro-batches as cumulative
        frames: serve_stream's repartition guard, then
        score_pages_batch's chain layer by layer (``full`` is the
        program's own function; check_serve_chain checks the copy)."""
        par = spark.sparkContext.defaultParallelism
        raw = spark.read.parquet(self.src)
        raw = raw.repartition(par) if raw.rdd.getNumPartitions() < par else raw
        good = schemas.parse_page_messages(raw).filter(~F.col("is_corrupt"))
        shrunk = good.select("url", shrink_string(F.col("html")).alias("html"))
        cand = (
            ex.extract_candidates(good, html_col="html", url_col="url", snippet_size=150)
            .withColumn("domain", get_domain(F.col("url")))
            .withColumn("norm_location", F.col("location").cast("double")
                        / F.greatest(F.col("page_length"), F.lit(1)).cast("double"))
            .withColumn("label", F.lit(0))
        )
        feats = md.featurize_candidates(cand)
        scored = md.score_candidates(feats, self.registry)
        picked = md.pick_model_price(scored)
        full = serve.score_pages_batch(good, self.registry)
        return {"scan": raw, "parse": good, "shrink": shrunk, "extract": cand,
                "featurize": feats, "score": scored, "pick": picked, "status": full}

    def layers(self, spark, tracker: tr.Tracker) -> tuple[dict, Op]:
        chain = self.chain(spark)
        spans = tr.prefixes(tracker, [(k, lambda df=df: tr.noop(df)) for k, df in chain.items()])
        untraced_s = tr.untraced(lambda: tr.noop(chain["status"]))
        n_cand = chain["extract"].count()
        staged_s = sum(v[0] for v in spans.values())
        stream, trace, base = self.stream_layers(spark, tracker, staged_s, untraced_s)
        m = {
            "bench.input_scan_s": spans["scan"][0],
            "schemas.parse_s": spans["parse"][0],
            "schemas.parse_tasks": spans["parse"][1],
            "functions.text.shrink_s": spans["shrink"][0],
            "functions.text.shrink_tasks": spans["shrink"][1],
            "operators.extraction.extract_s": spans["extract"][0],
            "operators.extraction.python_tasks": spans["extract"][1],
            "operators.extraction.candidates": n_cand,
            "operators.extraction.candidates_per_page": n_cand / len(self.expect),
            "operators.models.featurize_s": spans["featurize"][0],
            "operators.models.featurize_tasks": spans["featurize"][1],
            "operators.models.score_s": spans["score"][0],
            "operators.models.score_tasks": spans["score"][1],
            "operators.models.pick_s": spans["pick"][0],
            "operators.models.pick_tasks": spans["pick"][1],
            "streaming.serve.status_s": spans["status"][0],
            **{f"streaming.serve.{k}": v for k, v in stream.items()},
            **trace,
        }
        self.fold_in(Analytics(os.path.join(self.work, "analytics"), self.seed, self.scale),
                     spark, tracker, m, base)
        return m, base


def check_serve_chain(chain: dict, registry: list) -> int:
    """Pages whose model price from the traced copy of the serve chain
    (``picked``, -1 where no candidate survives) differs from
    ``score_pages_batch``'s. Non-zero means the copy has drifted from
    the program and the serve layer self times no longer time it."""
    good = chain["parse"]
    mine = good.select("url").join(chain["pick"].select("url", "model_price"), "url", "left")
    mine = mine.select("url", F.coalesce(F.col("model_price"), F.lit(-1.0)).alias("a"))
    theirs = serve.score_pages_batch(good, registry).select("url", F.col("model_price").alias("b"))
    both = mine.join(theirs, "url", "full_outer")
    return both.filter(F.col("a").isNull() | F.col("b").isNull()
                       | (F.abs(F.col("a") - F.col("b")) > 1e-9)).count()


def check_serve(out: str, expect: dict, n_corrupt: int) -> list[str]:
    """Closed-form planted-price gate: every page's model price and
    status match the generator's truth, status counts match its truth
    table, and the sinks partition the pages."""
    hist = pq.read_table(os.path.join(out, "historical"),
                         columns=["url", "model_price", "status"]).to_pandas()
    problems = []
    if len(hist) != len(expect) or hist["url"].nunique() != len(expect):
        problems.append(f"historical rows {len(hist)} != pages {len(expect)}")
    wrong_price = wrong_status = unknown = 0
    for url, mp, status in zip(hist["url"], hist["model_price"], hist["status"]):
        exp = expect.get(url)
        if exp is None:
            unknown += 1
            continue
        wrong_price += abs(mp - exp[0]) > 0.005
        wrong_status += status != exp[1]
    if wrong_price or wrong_status or unknown:
        problems.append(f"pages with wrong model price {wrong_price}, wrong status "
                        f"{wrong_status}, unknown url {unknown}")
    truth: dict = {}
    for _mp, status in expect.values():
        truth[status] = truth.get(status, 0) + 1
    got = hist["status"].value_counts().to_dict()
    if got != truth:
        problems.append(f"status counts {got} != truth {truth}")
    n_rt = pq.read_table(os.path.join(out, "realtime")).num_rows
    n_logs = pq.read_table(os.path.join(out, "logs")).num_rows
    n_bad = pq.read_table(os.path.join(out, "logs_corrupt")).num_rows
    if n_rt != sum(v for k, v in truth.items() if k in PASSING) or n_rt + n_logs != len(hist):
        problems.append(f"realtime {n_rt} + logs {n_logs} != historical {len(hist)}")
    if n_bad != n_corrupt:
        problems.append(f"logs_corrupt {n_bad} != corrupt messages {n_corrupt}")
    return problems


# --------------------------------------------------------------- learn


def _labeled(spark, path: str):
    """Training pages -> labeled candidate rows with domain."""
    pages = spark.read.parquet(path)
    cand = ex.extract_candidates(pages)
    truth = pages.select("url", "price", "updated_price")
    return ex.label_candidates(cand, truth).withColumn("domain", get_domain(F.col("url")))


def train_registry(spark, path: str, **fit) -> list:
    """The learn pass: extract -> label -> featurize -> train -> collect."""
    return md.train_per_domain(md.featurize_candidates(_labeled(spark, path)), **fit).collect()


def check_learn(reg: list, n_domains: int) -> list[str]:
    """Every domain trains, and fits its own data perfectly."""
    problems = []
    bad = sorted(r["domain"] for r in reg if r["train_f1"] != 1.0)
    if bad:
        problems.append(f"train_f1 != 1.0 on {bad}")
    if len(reg) != n_domains:
        problems.append(f"domains_trained {len(reg)} != two-class domains {n_domains}")
    return problems


class Learn(Workload):
    """Labeled pages -> extract -> label -> featurize -> train -> collect."""

    name = "learn"
    pages = 1000
    #: the warm-up passes train on a smaller page set of its own; after
    #: one, the next passes still sped up by ~10 %
    warm_pages = 256
    warmups = 2

    def _write(self, rng, n_pages: int, n_dom: int, tag: str) -> tuple[str, dict]:
        pg = gen.pages(rng, n_pages, n_dom, tag)
        if gen.domains_with_both_classes(pg) != n_dom:
            raise RuntimeError("every generated domain must have both classes")
        path = os.path.join(self.work, f"{tag}.parquet")
        pq.write_table(gen.training_table(pg), path)
        return path, pg

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        n_dom = self.n(16, 5)
        self.n_domains = n_dom
        self.path, pg = self._write(rng, self.n(self.pages, 80), n_dom, f"l{self.seed}")
        self.warm_path, _ = self._write(rng, self.n(self.warm_pages, 80), n_dom, f"w{self.seed}")
        self.items = len(pg["url"])
        self.sizes = {"pages": self.items, "domains": n_dom, "candidates": pg["candidates"],
                      "mb": round(sum(len(h) for h in pg["html"]) / 1e6, 3),
                      "largest_domain_pages": int(np.bincount(pg["domain_idx"]).max())}

    def op(self, spark, warm: bool = False) -> Op:
        t0 = time.perf_counter()
        reg = train_registry(spark, self.warm_path if warm else self.path)
        dt = time.perf_counter() - t0
        problems = check_learn(reg, self.n_domains)
        return Op(dt, self.items, [dt * 1000.0], failed=int(bool(problems)),
                  note="; ".join(problems))

    def warmup(self, spark) -> None:
        self.op(spark, warm=True)

    def layers(self, spark, tracker: tr.Tracker) -> tuple[dict, Op]:
        pages = spark.read.parquet(self.path)
        cand = ex.extract_candidates(pages)
        labeled = ex.label_candidates(cand, pages.select("url", "price", "updated_price"))
        labeled = labeled.withColumn("domain", get_domain(F.col("url")))
        feats = md.featurize_candidates(labeled)
        reg = {}
        spans = tr.prefixes(tracker, [
            ("scan", lambda: tr.noop(pages)),
            ("extract", lambda: tr.noop(cand)),
            ("label", lambda: tr.noop(labeled)),
            ("featurize", lambda: tr.noop(feats)),
            ("train", lambda: reg.__setitem__("rows", md.train_per_domain(feats).collect())),
        ])
        n_cand = cand.count()
        # the largest domain's fit, called directly in the driver with
        # train_per_domain's defaults and row order
        largest = feats.groupBy("domain").count().orderBy(F.desc("count"), "domain").first()
        pdf = feats.filter(F.col("domain") == largest["domain"]).toPandas()
        pdf = pdf.sort_values(["url", "candidate"], kind="stable").reset_index(drop=True)
        X, _idf, _idx = md._tfidf_matrix(pdf, 1000, 5, 100)
        y = pdf["label"].to_numpy(dtype=np.float64)
        fits = []
        for _ in range(3):
            t0 = time.perf_counter()
            GBTClassifier(n_estimators=30, max_depth=5).fit(X, y)
            fits.append(time.perf_counter() - t0)
        base = self.op(spark)
        # self times telescope to the traced (job-grouped) full pass
        traced = sum(v[0] for v in spans.values())
        m = {
            "bench.input_scan_s": spans["scan"][0],
            "operators.extraction.extract_s": spans["extract"][0],
            "operators.extraction.python_tasks": spans["extract"][1],
            "operators.extraction.candidates": n_cand,
            "operators.extraction.candidates_per_page": n_cand / self.items,
            "operators.extraction.label_s": spans["label"][0],
            "operators.extraction.label_tasks": spans["label"][1],
            "operators.models.featurize_s": spans["featurize"][0],
            "operators.models.featurize_tasks": spans["featurize"][1],
            "operators.models.train_s": spans["train"][0],
            "operators.models.train_tasks": spans["train"][1],
            "operators.models.domains_trained": len(reg["rows"]),
            "operators.gbt.fit_ms_largest_domain": statistics.median(fits) * 1000.0,
            "trace.coverage": traced / base.seconds,
            "trace.overhead": traced / base.seconds - 1.0,
        }
        self.fold_in(Ingest(os.path.join(self.work, "ingest"), self.seed, self.scale),
                     spark, tracker, m, base)
        return m, base


# -------------------------------------------------------------- ingest


def check_ingest(out: str, metrics: list, n_events: int, per_batch: int) -> tuple[int, list]:
    """historical rows = enriched rows = realtime + logs rows = events;
    each micro-batch enriched exactly one event file."""
    rows = {k: pq.read_table(os.path.join(out, k), columns=["event_id"]).num_rows
            for k in ("historical", "realtime", "logs")}
    enriched = sum(m["n_total"] for m in metrics)
    problems = []
    if not rows["historical"] == enriched == rows["realtime"] + rows["logs"] == n_events:
        problems.append(f"sink rows {rows}, enriched {enriched}, events {n_events}")
    if rows["realtime"] != sum(m["n_passing"] for m in metrics):
        problems.append("realtime rows != passing count")
    return sum(1 for m in metrics if m["n_total"] != per_batch), problems


class Ingest(StreamWorkload):
    """Event files drained by read_events_stream -> enrich -> sinks."""

    name = "ingest"
    files = 5
    events_per_file = 50_000

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        n_files = self.files if self.scale >= 1 else 2
        self.per_file = self.n(self.events_per_file, 500)
        # seeded id shift, so every seed's events carry other ids
        id_base = int(rng.integers(0, 1 << 40))
        self.src = _fresh(os.path.join(self.work, "events"))
        for f in range(n_files):
            pq.write_table(gen.events(rng, self.per_file, id_base + f * self.per_file),
                           os.path.join(self.src, f"part-{f:04d}.parquet"))
        self.items = n_files * self.per_file
        self.sizes = {"events": self.items, "files": n_files,
                      "mb": round(sum(os.path.getsize(os.path.join(self.src, f))
                                      for f in os.listdir(self.src)) / 1e6, 3)}

    def start(self, spark, src: str, out: str):
        stream = pipeline.read_events_stream(spark, None, events_dir=src, max_files_per_trigger=1)
        return pipeline.route_to_sinks(pipeline.enrich_events(stream), out)

    def check(self, out: str, holder) -> tuple[int, list[str]]:
        return check_ingest(out, holder.metrics, self.items, self.per_file)

    def layers(self, spark, tracker: tr.Tracker) -> tuple[dict, Op]:
        events = spark.read.parquet(self.src)
        enriched = pipeline.enrich_events(events)
        spans = tr.prefixes(tracker, [
            ("scan", lambda: tr.noop(events)),
            ("enrich", lambda: tr.noop(enriched)),
        ])
        untraced_s = tr.untraced(lambda: tr.noop(enriched))
        staged_s = sum(v[0] for v in spans.values())
        stream, trace, base = self.stream_layers(spark, tracker, staged_s, untraced_s)
        m = {
            "bench.input_scan_s": spans["scan"][0],
            "streaming.pipeline.enrich_s": spans["enrich"][0],
            "streaming.pipeline.enrich_tasks": spans["enrich"][1],
            **{f"streaming.pipeline.{k}": v for k, v in stream.items()},
            **trace,
        }
        return m, base


# ----------------------------------------------------------- analytics

QUERIES = (
    (prod_metrics, "price_delta_market_position"),
    (analytics2, "bad_domain_analysis"),
    (analytics2, "hotspots_hot_level"),
    (analytics2, "rt2report_competitor_summary"),
)


class Analytics(Workload):
    """Four price-history queries over a seeded lineitem, noop sink."""

    name = "analytics"

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        self.sf_dir = _fresh(os.path.join(self.work, "sf"))
        n = self.n(150_000, 2_000)
        table = gen.lineitem(rng, n, n_parts=max(n // 30, 10), n_supp=max(n // 600, 5))
        pq.write_table(table, os.path.join(self.sf_dir, "lineitem.parquet"))
        self.items = n
        self.sizes = {"rows": n, "mb": round(os.path.getsize(
            os.path.join(self.sf_dir, "lineitem.parquet")) / 1e6, 3)}

    def _frames(self, spark) -> dict:
        return {q: getattr(mod, q)(spark, self.sf_dir) for mod, q in QUERIES}

    def op(self, spark) -> Op:
        t0 = time.perf_counter()
        for df in self._frames(spark).values():
            tr.noop(df)
        dt = time.perf_counter() - t0
        return Op(dt, self.items, [dt * 1000.0], attempted=len(QUERIES))

    def oracle_hashes(self) -> dict:
        """Each query's DuckDB oracle (``registry.oracles()``) over the
        same lineitem file, hashed the way the repo's correctness tool
        hashes results (order-insensitive ``frame_hash``)."""
        sql = oracles()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf_dir, 'lineitem.parquet')}')")
            return {q: frame_hash(con.execute(sql[q]).df())[0] for _m, q in QUERIES}
        finally:
            con.close()

    def check(self, spark, expected: dict) -> Op:
        """Collect every query once and compare with its oracle hash."""
        t0 = time.perf_counter()
        bad = [q for q, df in self._frames(spark).items()
               if frame_hash(df.toPandas())[0] != expected[q]]
        return Op(time.perf_counter() - t0, 0, attempted=len(QUERIES), failed=len(bad),
                  note=f"oracle mismatch: {bad}" if bad else "")

    def layers(self, spark, tracker: tr.Tracker) -> tuple[dict, Op]:
        scan = [tracker.run("scan", lambda: tr.noop(load_table(spark, self.sf_dir, "lineitem")))
                for _ in range(2)]
        scan_s = min(s.seconds for s in scan)
        m = {"sources.tables.scan_s": scan_s, "sources.tables.scan_tasks": scan[-1].tasks}
        traced = 0.0
        for (mod, q), df in zip(QUERIES, self._frames(spark).values()):
            spans = [tracker.run(q, lambda df=df: tr.noop(df)) for _ in range(2)]
            q_s = min(sp.seconds for sp in spans)
            name = f"{mod.__name__.split('.', 1)[1]}.{q}"
            # each query scans lineitem itself; its self time excludes that
            m[f"{name}_s"] = q_s - scan_s
            m[f"{name}_tasks"] = spans[-1].tasks
            traced += q_s
        base = self.op(spark)
        m["trace.coverage"] = traced / base.seconds
        m["trace.overhead"] = traced / base.seconds - 1.0
        check = self.check(spark, self.oracle_hashes())
        base.attempted += check.attempted
        base.failed += check.failed
        base.note = check.note
        return m, base


WORKLOADS = {w.name: w for w in (Serve, Learn, Ingest, Analytics)}
