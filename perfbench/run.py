#!/usr/bin/env python3
"""The repository benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload scratch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The pipeline corpora are generated
from ``--seed`` inside ``.perfbench/`` in the checkout and removed at
the end; the query tables are the fixed reference tables copied under
``perfbench/data/``. The program is driven in a single-driver Spark ``local[k]``
session, k = the CPUs this process may use. Human-readable report lines
come first; the last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import probes as T  # noqa: E402  (perfbench/probes.py)

HEADLINE = [
    "exact_dup_groups", "cluster_labels", "ngram_pairs", "embedding_topk_ann",
    "pricing_summary", "top_revenue_orders", "events_hourly", "sessionize",
    "change_detection",
]

DOCS = 1000            # the scratch corpus
SMALL_DOCS = 50        # the corpus of the tick check and the tracing overhead
# The reference tables of TESTDATA.md (seed 42), copied unchanged: the
# queries workload reads sf 0.01 and warms up on sf 0.001.
DATA = HERE / "data"
QUERY_TABLES = ["customer", "orders", "lineitem", "events", "documents", "embeddings"]
# The set-up is repeated and its median reported, so that one slow
# repetition on a noisy host does not move setup_s.
PREP_REPEATS = 3
MIN_RECALL = 0.99
TICK_FRONTIER = 0.05   # share of the small corpus the tick check appends
PROFILER = "spark.sql.pyspark.udf.profiler"

END_TO_END_UNITS = {"wall_s": "s", "setup_s": "s", "cpu_s": "s"}


def per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for s in T.STAGES:
        units[f"stage.{s}.wall_s"] = "s"
        units[f"stage.{s}.jobs"] = "count"
        units[f"stage.{s}.driver_gap_s"] = "s"
    units["pipeline.unattributed_s"] = "s"
    units["pipeline.jobs"] = "count"
    for s in T.STAGES:
        units[f"exec.{s}.executor_s"] = "s"
        units[f"exec.{s}.shuffle_bytes"] = "bytes"
        units[f"exec.{s}.task_skew"] = "ratio"
    units["exec.spill_bytes"] = "bytes"
    for k in T.UDF_KERNELS:
        units[f"udf.{k}.python_s"] = "s"
    units["udf.share"] = "fraction"
    units["lsh.candidates_per_doc"] = "pairs/doc"
    units["verify.dup_yield"] = "fraction"
    units["substr.pairs_per_doc"] = "pairs/doc"
    units["catalog.meta_calls"] = "count"
    units["catalog.meta_s"] = "s"
    units["catalog.files"] = "count"
    units["catalog.bytes"] = "bytes"
    for q in HEADLINE:
        units[f"query.{q}.s"] = "s"
        units[f"query.{q}.executor_s"] = "s"
    units["session.start_s"] = "s"
    units["host.steal_pct"] = "%"
    units["trace.overhead_frac"] = "fraction"
    return units


def dir_bytes(path: Path) -> tuple[int, int]:
    """(data files, bytes) under ``path``; markers, sidecars and
    checksum files (names starting with ``_`` or ``.``) are left out."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Run:
    """One invocation: the session, the failure counts and the report lines."""

    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.k = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.lines: list[str] = []

    def say(self, name: str, value, unit: str, n: int | None = None) -> None:
        tail = f" (median of n={n})" if n else ""
        self.lines.append(f"metric {name} = {value} {unit}{tail}")

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"correctness check failed: {what}", file=sys.stderr)

    def attempt(self, what: str, fn, *args, **kwargs):
        """Call ``fn``; an exception counts as a failure and gives None."""
        try:
            return fn(*args, **kwargs)
        except Exception:
            traceback.print_exc()
            self.check(False, f"{what} raised")
            return None

    def start_session(self) -> float:
        from deduplicator_go_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
        }
        if self.args.trace:
            (self.work / "events").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.k, extra_conf=conf)
        self.spark.range(1).collect()
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()   # the gateway JVM exits at end of stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        me = os.getpid()
        deadline = time.time() + 30
        while len(T.proc_tree(me)) > 1 and time.time() < deadline:
            time.sleep(0.2)


# -- workload: scratch ---------------------------------------------------------

class Scratch:
    """From-scratch ``DedupPipeline.run`` (with substr) on a fresh catalog.

    Timed cold: the run is the first in a fresh session, as each
    ``python -m deduplicator_go_spark pipeline`` invocation is."""

    cold = True

    def __init__(self, run: Run) -> None:
        self.r = run
        self.input = run.work / "docs.parquet"
        self.small_input = run.work / "small.parquet"
        self.results: list[dict] = []
        self.spans = T.Spans("")
        self.dup_yield = 0.0

    def prepare(self) -> None:
        from deduplicator_go_spark.fixtures.webtext import generate

        seed = self.r.args.seed
        self.corpus = generate(n_docs=DOCS, seed=seed)
        self._write(self.corpus.documents, self.input)
        if self.r.args.trace:
            self.small = generate(n_docs=SMALL_DOCS, seed=seed + 1)
            self._write(self.small.documents, self.small_input)

    @staticmethod
    def _write(documents, path: Path) -> None:
        documents.drop(columns=["kind"]).to_parquet(
            path, coerce_timestamps="us", allow_truncated_timestamps=True,
            row_group_size=4096)

    def _pipeline(self, root: Path, run_id: str | None = None):
        from deduplicator_go_spark.config import DedupConfig
        from deduplicator_go_spark.plans.pipeline import DedupPipeline
        from deduplicator_go_spark.sources.catalog import CheckpointCatalog

        cat = CheckpointCatalog(str(root), run_id=run_id)
        return DedupPipeline(self.r.spark, cat, DedupConfig(), with_substr=True)

    def _run(self, pipe, path: Path):
        return pipe.run(self.r.spark.read.parquet(str(path)))

    def _labels(self, pipe):
        return pipe.catalog.read(self.r.spark, "clusters").toPandas()

    def prepare_checks(self) -> None:
        pass  # the generator's ground truth comes with the corpus

    def measure(self, i: int, run_id: str | None = None) -> dict[str, float]:
        """One timed run; checks recall and false merges afterwards."""
        from deduplicator_go_spark.metrics import pair_recall

        self.r.attempted += 1
        pipe = self._pipeline(self.r.work / f"cat{i}", run_id=run_id)
        docs = self.r.spark.read.parquet(str(self.input))
        sc = self.r.spark.sparkContext
        if run_id:
            self.probe = T.CatalogProbe(pipe.catalog, self.r.spark, self.spans, "run")
            sc.setJobGroup(f"{run_id}/input", "input")
        cpu0, own0, t0 = T.cpu_seconds(os.getpid()), T.own_cpu_seconds(), time.time()
        report = pipe.run(docs)
        t1, own1, cpu1 = time.time(), T.own_cpu_seconds(), T.cpu_seconds(os.getpid())
        if run_id:
            self.probe.finish(t1)
            self.spans.add("run", t0, t1, None)
            self.run_span = (t0, t1)
            sc.setJobGroup(f"{run_id}/harness", "harness")
        wall = t1 - t0

        rr = pair_recall(self._labels(pipe), self.corpus.truth_pairs,
                         self.corpus.truth_clusters, pipe.config.verify_threshold)
        self.r.check(rr.recall >= MIN_RECALL, f"pair_recall {rr.recall} < {MIN_RECALL}")
        self.r.check(rr.false_merges == 0, f"{rr.false_merges} false merges")
        self.rows = {s.name: s.rows for s in report.stages}
        self.catalog_files, self.catalog_bytes = dir_bytes(Path(pipe.catalog.root))
        self.results.append({
            "docs_per_s": self.rows["valid_docs"] / wall,
            "recall": rr.recall, "false_merges": rr.false_merges,
            "catalog_ratio": self.catalog_bytes / os.path.getsize(self.input),
        })
        self.pipe = pipe
        return {"wall_s": wall, "cpu_s": cpu1 - cpu0, "driver_cpu_s": own1 - own0}

    def summary(self) -> None:
        res = self.results
        if not res:
            return
        self.r.say("dedup_docs_per_s",
                   round(statistics.median(x["docs_per_s"] for x in res), 3), "docs/s", len(res))
        self.r.say("pair_recall", min(x["recall"] for x in res), "fraction (lowest)")
        self.r.say("false_merges", max(x["false_merges"] for x in res), "count (highest)")
        self.r.say("catalog_bytes_per_input_byte",
                   round(statistics.median(x["catalog_ratio"] for x in res), 4), "ratio", len(res))

    def tick_frontier(self) -> set[str]:
        """The 5 % of the small corpus the tick check appends. All but one
        of its urls are the second members of seed-chosen positive truth
        pairs whose first members stay in the base, so every seed merges
        new docs into standing clusters; the last is the corpus's last row
        outside those pairs."""
        docs, pairs = self.small.documents, self.small.truth_pairs
        n = len(docs) - int(len(docs) * (1 - TICK_FRONTIER))
        pos = pairs[pairs["kind"] != "negative"].sample(frac=1, random_state=self.r.args.seed)
        front: set[str] = set()
        base: set[str] = set()
        for a, b in zip(pos["url_a"], pos["url_b"]):
            if len(front) >= n - 1:
                break
            if a not in front and b not in base:
                front.add(b)
                base.add(a)
        for url in reversed(docs["url"].tolist()):
            if len(front) >= n:
                break
            if url not in base:
                front.add(url)
        return front

    def after_traced(self, traced_wall: float) -> float:
        """The verify yield of the traced run, then three runs on the small
        corpus: an untraced from-scratch run, a traced from-scratch run on
        all but its tick frontier (the tracing overhead, with 5 % fewer
        docs on the traced side), and a tick of that catalog to the whole
        corpus, whose labels must equal the untraced from-scratch run's."""
        from pyspark.sql import functions as F

        spark = self.r.spark
        row = (self.pipe.catalog.read(spark, "verified_pairs")
               .agg(F.count("*").alias("n"), F.sum(F.col("is_dup").cast("long")).alias("d"))
               .first())
        self.dup_yield = (row["d"] or 0) / row["n"] if row["n"] else 0.0

        docs, pairs = self.small.documents, self.small.truth_pairs
        front = self.tick_frontier()
        pos = pairs[pairs["kind"] != "negative"]
        cross = int((pos["url_a"].isin(front) != pos["url_b"].isin(front)).sum())
        self.r.say("tick_check_frontier_docs", len(front), "count")
        self.r.say("tick_check_cross_frontier_pairs", cross, "count")
        self.r.check(cross > 0, "the tick check has no truth pair across its frontier")
        base = self.r.work / "tick_base.parquet"
        self._write(docs[~docs["url"].isin(front)], base)
        scratch = self._pipeline(self.r.work / "small_cat")
        t0 = time.perf_counter()
        self._run(scratch, self.small_input)
        untraced = time.perf_counter() - t0

        tick = self._pipeline(self.r.work / "tick_cat")
        spark.conf.set(PROFILER, "perf")
        T.CatalogProbe(tick.catalog, spark, T.Spans("overhead"), "run")
        t0 = time.perf_counter()
        self._run(tick, base)
        traced = time.perf_counter() - t0
        spark.conf.unset(PROFILER)
        spark.sparkContext.setJobGroup("harness", "harness")

        self.r.attempted += 1
        tick = self._pipeline(self.r.work / "tick_cat")
        t0 = time.perf_counter()
        self._run(tick, self.small_input)
        self.r.say("tick_check_wall_s", round(time.perf_counter() - t0, 3), "s", 1)
        a, b = self._labels(tick), self._labels(scratch)
        same = dict(zip(a["url"], a["cluster_id"])) == dict(zip(b["url"], b["cluster_id"]))
        self.r.say("tick_labels_equal_scratch", same, "bool")
        self.r.check(same, "tick labels differ from a from-scratch run")
        return traced / untraced - 1

    def layers(self, events: dict[str, dict], run_id: str, udf: dict[str, float]) -> dict:
        out: dict[str, float] = {}
        empty = {"jobs": [], "executor_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
                 "task_s": []}
        spans = {s["name"]: s for s in self.spans.rows if s["parent"] == "run"}
        t0, t1 = self.run_span
        fingerprint = events.get(f"{run_id}/input", empty)
        jobs, spill = len(fingerprint["jobs"]), fingerprint["spill_bytes"]
        stage_wall = executor = 0.0
        for s in T.STAGES:
            g = events.get(f"{run_id}/{s}", empty)
            sp = spans.get(s)
            wall = sp["end"] - sp["start"] if sp else 0.0
            busy = T.covered_s(g["jobs"], sp["start"], sp["end"]) if sp else 0.0
            stage_wall += wall
            jobs += len(g["jobs"])
            spill += g["spill_bytes"]
            executor += g["executor_s"]
            out[f"stage.{s}.wall_s"] = wall
            out[f"stage.{s}.jobs"] = len(g["jobs"])
            out[f"stage.{s}.driver_gap_s"] = wall - busy
            out[f"exec.{s}.executor_s"] = g["executor_s"]
            out[f"exec.{s}.shuffle_bytes"] = g["shuffle_bytes"]
            out[f"exec.{s}.task_skew"] = T.task_skew(g["task_s"])
        out["pipeline.unattributed_s"] = (t1 - t0) - stage_wall
        out["pipeline.jobs"] = jobs
        out["exec.spill_bytes"] = spill
        for k, v in udf.items():
            out[f"udf.{k}.python_s"] = v
        out["udf.share"] = sum(udf.values()) / executor if executor else 0.0
        valid = self.rows["valid_docs"] or 1
        out["lsh.candidates_per_doc"] = self.rows["candidates"] / valid
        out["substr.pairs_per_doc"] = self.rows["substr_pairs"] / valid
        out["verify.dup_yield"] = self.dup_yield
        out["catalog.meta_calls"] = self.probe.meta_calls
        out["catalog.meta_s"] = self.probe.meta_s
        out["catalog.files"] = self.catalog_files
        out["catalog.bytes"] = self.catalog_bytes
        stray = [j for j in events.get("", empty)["jobs"] if t0 <= j[0] <= t1]
        self.r.say("trace.run_wall_s", t1 - t0, "s")
        self.r.say("trace.fingerprint_jobs", len(fingerprint["jobs"]), "count")
        self.r.say("trace.jobs_outside_groups", len(stray), "count")
        return out


# -- workload: queries ---------------------------------------------------------

def _oracle_test():
    """tests/test_entry_oracle.py, whose ``_normalize`` (order-insensitive
    rows, floats rounded to 6 digits) the query check uses as it is."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_entry_oracle", ROOT / "tests" / "test_entry_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _rows_match(a: list[tuple], b: list[tuple]) -> bool:
    """Equal rows, allowing float wobble at the last normalised digit:
    the comparison of ``test_query_matches_oracle`` in that file."""
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        for xv, yv in zip(x, y):
            if isinstance(xv, float) and isinstance(yv, float):
                if not math.isclose(xv, yv, rel_tol=1e-9, abs_tol=2e-6):
                    return False
            elif xv != yv:
                return False
    return True


class Queries:
    """The nine headline queries of ``__spark_entry__`` in a warm session."""

    cold = False

    def __init__(self, run: Run) -> None:
        self.r = run
        self.data = DATA / ("sf0.001" if run.args.smoke else "sf0.01")
        self.warm_data = DATA / "sf0.001"
        self.results: list[dict[str, float]] = []
        self.spans = T.Spans("")

    def prepare(self) -> None:
        pass  # the tables are fixed and read in place; --seed does not apply

    def warm_up(self) -> None:
        import __spark_entry__ as E

        qs = E.queries()
        for q in HEADLINE:
            qs[q](self.r.spark, str(self.warm_data)).collect()

    def prepare_checks(self) -> None:
        """Each headline query's DuckDB oracle result on this seed's tables."""
        import duckdb

        import __spark_entry__ as E

        self.normalize = _oracle_test()._normalize
        con = duckdb.connect()
        try:
            for t in QUERY_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            self.oracle = {}
            for q in HEADLINE:
                res = con.execute(E.oracle_sql()[q]).fetch_arrow_table()
                cols = sorted(res.column_names)
                self.oracle[q] = (cols, self.normalize(res.to_pylist(), cols))
        finally:
            con.close()

    def measure(self, i: int, run_id: str | None = None) -> dict[str, float]:
        """One pass: the sum of the nine ``collect()`` times. Every result
        is checked against its oracle after the pass."""
        import __spark_entry__ as E

        qs = E.queries()
        sc = self.r.spark.sparkContext
        times: dict[str, float] = {}
        results = {}
        cpu0, own0 = T.cpu_seconds(os.getpid()), T.own_cpu_seconds()
        for q in HEADLINE:
            self.r.attempted += 1
            if run_id:
                sc.setJobGroup(f"{run_id}/q/{q}", q)
            t0 = time.time()
            df = qs[q](self.r.spark, str(self.data))
            results[q] = (sorted(df.columns), df.collect())
            t1 = time.time()
            if run_id:
                self.spans.add(q, t0, t1, "pass")
            times[q] = t1 - t0
        own = T.own_cpu_seconds() - own0
        cpu = T.cpu_seconds(os.getpid()) - cpu0
        for q, (cols, rows) in results.items():
            want_cols, want = self.oracle[q]
            got = self.normalize([r.asDict() for r in rows], cols)
            self.r.check(cols == want_cols and _rows_match(got, want),
                         f"{q} differs from its DuckDB oracle")
        self.results.append(times)
        return {"wall_s": sum(times.values()), "cpu_s": cpu, "driver_cpu_s": own}

    def summary(self) -> None:
        if self.results:
            passes = [sum(t.values()) for t in self.results]
            self.r.say("queries_pass_s", round(statistics.median(passes), 4), "s", len(passes))

    def after_traced(self, traced_wall: float) -> float:
        """The tracing overhead against one untraced pass."""
        return traced_wall / self.measure(1)["wall_s"] - 1

    def layers(self, events: dict[str, dict], run_id: str, udf: dict[str, float]) -> dict:
        out: dict[str, float] = {}
        spans = {s["name"]: s for s in self.spans.rows if s["parent"] == "pass"}
        for q in HEADLINE:
            sp = spans[q]
            out[f"query.{q}.s"] = sp["end"] - sp["start"]
            out[f"query.{q}.executor_s"] = events.get(f"{run_id}/q/{q}", {}).get("executor_s", 0.0)
        return out


WORKLOADS = {"scratch": Scratch, "queries": Queries}


# -- one invocation -----------------------------------------------------------

def timed_loop(run: Run, wl, seconds: float) -> list[dict[str, float]]:
    """Closed loop, one client: at least one iteration, and another only
    while it is expected to end within ``seconds`` (a cold workload has
    one cold iteration per session). Each iteration gives its wall time,
    the CPU time and the peak memory of the process tree."""
    out: list[dict[str, float]] = []
    me = os.getpid()
    t_start = time.perf_counter()
    i = 0
    while True:
        T.reset_peak_rss(me)
        sample = run.attempt(f"iteration {i}", wl.measure, i)
        if sample is not None:
            out.append({**sample, "peak_rss_mb": T.peak_rss_mb(me)})
        i += 1
        elapsed = time.perf_counter() - t_start
        if wl.cold or elapsed + elapsed / i > seconds:
            return out


def traced_layers(run: Run, wl, session_s: float) -> dict[str, float] | None:
    """One traced iteration, in the state the untraced runs time: job
    groups, spans, the catalog probe and the UDF profiler on. Per-layer
    metrics are folded from the session's event log after it stops. The
    workload's after-trace checks measure the tracing overhead; the event
    log is on for the whole session, so that overhead leaves it out."""
    run_id = f"traced{os.getpid()}"
    wl.spans = T.Spans(run_id)
    run.spark.conf.set(PROFILER, "perf")
    run.spark.profile.clear()
    traced = run.attempt("traced iteration", wl.measure, 0, run_id)
    run.spark.conf.unset(PROFILER)
    if traced is None:
        return None
    udf = T.udf_python_s(run.spark, str(run.work / "udf_profiles"))
    overhead = run.attempt("post-trace checks", wl.after_traced, traced["wall_s"])
    run.stop_session()
    if overhead is None:
        return None
    spans = ROOT / ".perfbench" / f"{run.args.workload}-seed{run.args.seed}.spans.jsonl"
    wl.spans.write(str(spans))
    run.say("trace.spans_file", spans.relative_to(ROOT), "path")
    (log,) = (run.work / "events").iterdir()
    layers = {name: 0.0 for name in per_layer_units()}
    layers.update(wl.layers(T.fold_event_log(str(log)), run_id, udf))
    layers["session.start_s"] = session_s
    layers["trace.overhead_frac"] = overhead
    return layers


def execute(run: Run) -> dict | None:
    import pyspark

    args = run.args
    jiffies0 = T.cpu_jiffies()
    wl = WORKLOADS[args.workload](run)

    session_s = run.start_session()
    prep = []
    for _ in range(PREP_REPEATS):
        t0 = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    if not wl.cold:
        wl.warm_up()
    setup_s = session_s + statistics.median(prep) + (time.perf_counter() - t0)
    wl.prepare_checks()

    if args.trace:
        layers = traced_layers(run, wl, session_s)
        if layers is None:
            return None
    else:
        samples = timed_loop(run, wl, args.seconds)
        if not samples:
            return None

    total, steal = (b - a for a, b in zip(jiffies0, T.cpu_jiffies()))
    steal_pct = 100.0 * steal / total if total else 0.0
    run.lines.insert(0, (
        f"env workload={args.workload} seed={args.seed} nproc={os.cpu_count()} "
        f"k={run.k} pyspark={pyspark.__version__} host.steal_pct={steal_pct:.3f} "
        f"trace={args.trace}"))
    run.say("setup_s", round(setup_s, 4), "s")
    run.say("session.start_s", round(session_s, 4), "s")
    wl.summary()
    run.say("failed_frac", run.failed / run.attempted, f"fraction of {run.attempted} attempted")

    if args.trace:
        layers["host.steal_pct"] = steal_pct
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        med = {k: statistics.median(x[k] for x in samples) for k in samples[0]}
        run.say("wall_s", round(med["wall_s"], 4), "s", len(samples))
        run.say("cpu_s", round(med["cpu_s"], 3), "s", len(samples))
        run.say("driver_cpu_s", round(med["driver_cpu_s"], 3), "s", len(samples))
        run.say("peak_rss_mb", round(med["peak_rss_mb"], 1), "MB", len(samples))
        values = {"wall_s": med["wall_s"], "setup_s": setup_s, "cpu_s": med["cpu_s"]}
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own smoke test")
    args = ap.parse_args()

    if not (ROOT / "deduplicator_go_spark" / "__init__.py").is_file() or \
            not (ROOT / "__spark_entry__.py").is_file():
        print(f"program not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_TMPFS"] = "0"   # spark.local.dir stays in the checkout
    sys.path.insert(0, str(ROOT))

    run = Run(args, work)
    try:
        result = execute(run)
    finally:
        run.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench").rmdir()
        except OSError:
            pass  # another invocation is using it
    for line in run.lines:
        print(line)
    if result is None:
        print("no result: every measured iteration failed", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
