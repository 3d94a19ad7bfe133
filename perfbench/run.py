"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload extract_corpus --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. Each run
also leaves a record (host, seed, metrics, per-op latencies, and spans when
traced) under ``.perfbench_records/``; ``perfbench/compare.py`` summarizes
records and reports tracing overhead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import Tracer, median, self_time  # noqa: E402

#: Documents per corpus (about 1 in 7 are scans), 40-160 pages each.
CORPUS_DOCS = 100
#: Corpus documents decoded single-threaded in the driver for ``pdf.*``.
PDF_SAMPLE_DOCS = 12
#: Scale factor of the generated star schema for ``heavy_tail``.
TABLES_SF = 0.01
#: ``heavy_tail``: operator and text-function queries, then bounded streams.
HEAVY_TAIL = (
    "D2_minhash_lsh",
    "J12_similarity_join",
    "T5_tfidf_top_term",
    "M2_tumbling_window",
    "M10_stream_stream_join",
)
#: Queries whose join output is the candidate-pair set.
DEDUP_QUERIES = ("D2_minhash_lsh", "J12_similarity_join")
#: ``heavy_tail`` keeps getting faster for several warm passes (JIT), so
#: its throughput comes from the first this-many warm passes of every run,
#: never from however many more the window happens to hold.
HEAVY_TAIL_PASSES = 3
#: An operation still running after this long is cancelled and failed.
OP_TIMEOUT_S = 60.0

E2E_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "scan.files": "count", "scan.tasks": "count", "scan.bytes": "bytes",
    "scan.time_ms": "ms",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plan.parse_ms": "ms", "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.core_busy_frac": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "spill.bytes": "bytes",
    "python.rows": "count", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes", "python.stage_run_ms": "ms",
    "pdf.ms_per_doc": "ms/doc", "pdf.ms_per_mb": "ms/MB",
    "pipeline.scan_s": "s", "pipeline.parse_s": "s",
    "pipeline.extract_s": "s", "pipeline.sink_s": "s",
    "sink.files": "count", "sink.bytes_per_in_byte": "ratio",
    "extract.rows.projects": "count",
    "extract.rows.mineral_resources": "count",
    "extract.rows.mineral_reserves": "count",
    "extract.rows.economics": "count",
    "extract.quarantine_rows": "count",
    "dedup.candidate_pairs": "count", "dedup.useful_frac": "ratio",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.events_per_s": "1/s",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "state.commit_ms": "ms", "state.rows_total": "count",
    "state.memory_bytes": "bytes", "state.partitions": "count",
    "trace.spans": "count",
}
#: Span name -> per-layer metric fed by the span's duration ...
SPAN_TOTALS = {
    "queries.build": "queries.build_s",
    "pipeline.scan": "pipeline.scan_s",
    "pipeline.parse": "pipeline.parse_s",
    "pipeline.extract": "pipeline.extract_s",
}
#: ... or by its self time: what ``run_corpus`` does outside the traced
#: plan builders is its sink writes, which run the lazy decode.
SPAN_SELF = {"pipeline.run_corpus": "pipeline.sink_s"}


def host_snapshot() -> dict:
    """cpus, load average and the cumulative /proc/stat CPU counters."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg": os.getloadavg(),
        "cpu_ticks": cpu,
    }


def steal_pct(before: dict, after: dict) -> float:
    d = [b - a for a, b in zip(before["cpu_ticks"], after["cpu_ticks"])]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def layer_values(by_pass: dict[int, dict[str, float]], cores: int) -> tuple[dict, dict]:
    """(warm, cold) per-layer values from per-pass counter sums: warm is
    the mean over the warm passes (pass >= 1), cold is pass 0, so neither
    depends on how many passes the window held. The ratios are taken
    from the sums, and the private ``_`` inputs are dropped."""

    def derive(d: dict[str, float]) -> dict[str, float]:
        out = {k: v for k, v in d.items() if not k.startswith("_")}
        wall = d.get("_wall_s", 0.0)
        out["exec.core_busy_frac"] = d.get("exec.run_ms", 0.0) / (wall * 1000 * cores) if wall else 0.0
        cand = d.get("dedup.candidate_pairs", 0.0)
        out["dedup.useful_frac"] = d.get("_dedup_emitted", 0.0) / cand if cand else 0.0
        sw = d.get("_stream_wall_s", 0.0)
        out["stream.events_per_s"] = d.get("stream.input_rows", 0.0) / sw if sw else 0.0
        return out

    warm = [b for p, b in by_pass.items() if p > 0]
    keys = set().union(*warm)
    mean = {k: sum(b.get(k, 0.0) for b in warm) / len(warm) for k in keys}
    return derive(mean), derive(by_pass.get(0, {}))


class Run:
    """One benchmark process: the op loop, counters and the result."""

    def __init__(self, args, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.tracer = Tracer(bool(args.trace))
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        #: per-layer values: set-up figures here, per-pass sums in by_pass
        self.layer: dict[str, float] = dict.fromkeys(LAYER_UNITS, 0.0)
        self.by_pass: dict[int, dict[str, float]] = {}
        self.cold_layer: dict[str, float] = {}
        self.pass_no = 0
        self.op_pass: dict[str, int] = {}
        self.driver_memory = None
        self.latencies: list[tuple[str, int, float]] = []
        self.metrics: dict[str, float] = {}
        self.spark = None
        self.counters = None
        self.stream = None
        self.rss = None
        #: removed when the run ends: the run dir and the staged feed
        self.cleanup: list[str] = [run_dir]

    # -- operations ---------------------------------------------------

    def op(self, name: str, fn, pass_no: int) -> float | None:
        """Run one operation; returns its wall time, or None if it raised
        or was cancelled after ``OP_TIMEOUT_S``."""
        self.attempted += 1
        self.pass_no = pass_no
        self.tracer.op = f"{name}#{self.attempted}"
        self.op_pass[self.tracer.op] = pass_no
        mark = self.counters.mark() if self.counters else None
        timer = threading.Timer(OP_TIMEOUT_S, self._cancel)
        timer.start()
        t0 = time.perf_counter()
        dt = None
        try:
            with self.tracer.span("op", query=name, pass_no=pass_no):
                fn()
            dt = time.perf_counter() - t0
            self.latencies.append((name, pass_no, dt))
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        finally:
            timer.cancel()
            self.tracer.op = None
        if mark is not None:
            self.fold(self.counters.since(mark), name)
        if self.stream is not None:
            streams, ok = self.stream.take()
            if not ok:
                self.problems.append(f"{name}: stream terminated events missing")
            for k, v in streams.items():
                self.add(k, v)
        return dt

    def _cancel(self) -> None:
        self.spark.sparkContext.cancelAllJobs()
        for q in self.spark.streams.active:
            q.stop()

    def add(self, key: str, value: float) -> None:
        """Add to a per-layer sum of the current pass."""
        b = self.by_pass.setdefault(self.pass_no, {})
        b[key] = b.get(key, 0.0) + value

    def fold(self, c: dict[str, float], name: str) -> None:
        for k, v in c.items():
            if k in LAYER_UNITS:
                self.add(k, v)
        self.add("_wall_s", c["wall_s"])
        if name in DEDUP_QUERIES:
            self.add("dedup.candidate_pairs", c["join.rows"])
            self.add("_dedup_emitted", c["result.rows"])

    def traced(self, module, attr: str, span: str) -> None:
        """Wrap ``module.attr`` (a public function) in a span."""
        fn = getattr(module, attr)

        def wrapper(*a, **kw):
            with self.tracer.span(span):
                return fn(*a, **kw)

        setattr(module, attr, wrapper)

    def passes(self, one_pass, min_warm: int) -> tuple[float, list[float]]:
        """A cold pass, then whole warm passes until ``--seconds`` have
        elapsed and at least ``min_warm`` have run; returns (cold pass
        time, warm pass times)."""
        cold = one_pass(0)
        warm: list[float] = []
        deadline = time.perf_counter() + self.args.seconds
        while len(warm) < min_warm or time.perf_counter() < deadline:
            warm.append(one_pass(len(warm) + 1))
        # the output checks that follow run streams of their own
        if self.stream is not None and not self.stream.detach():
            self.problems.append("stream listener: terminated events missing")
        self.stream = None
        return cold, warm

    # -- session ------------------------------------------------------

    def start_session(self, staging=None) -> float:
        from test_dataengineer2026_spark import session

        self.rss.paused = False
        t0 = time.perf_counter()
        with self.tracer.span("session.get_session"):
            self.spark = session.get_session("perfbench")
        self.layer["session.start_s"] = time.perf_counter() - t0
        if staging:
            staging()
        setup = time.perf_counter() - t0
        self.driver_memory = self.spark.sparkContext.getConf().get("spark.driver.memory")
        if self.args.trace:
            from collect import Counters, StreamProgress

            self.counters = Counters(self.spark)
            self.stream = StreamProgress(self.spark)
        return setup

    def finish_layers(self) -> None:
        """Per-layer values: set-up figures (session start, set-up table
        loads, the ``pdf.*`` sample) once, everything an operation does
        per warm pass; the cold pass is kept apart in ``cold_layer``."""
        spans = self.tracer.spans
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            name, dur = s["name"], s["end"] - s["start"]
            parent = by_id.get(s["parent"], {"name": ""})["name"]
            metric, value = SPAN_TOTALS.get(name), dur
            if name in SPAN_SELF:
                metric, value = SPAN_SELF[name], self_time(s, spans)
            elif name.startswith("tables.") and not parent.startswith("tables."):
                metric = "tables.load_s"
            if s["op"] is None:
                if metric == "tables.load_s":
                    self.layer[metric] += value
                continue
            self.pass_no = self.op_pass[s["op"]]
            self.add("trace.spans", 1)
            if metric:
                self.add(metric, value)
        cores = self.counters.cores if self.counters else 1
        warm, self.cold_layer = layer_values(self.by_pass, cores)
        for k, v in warm.items():
            self.layer[k] += v


# ---------------------------------------------------------------- workloads


def extract_corpus(run: Run) -> None:
    """``pipeline.run_corpus(..., fmt="parquet")`` over a seeded corpus;
    one pass is one operation, checked against the truth after it."""
    import gen_corpus
    from checks import check_corpus

    corpus = os.path.join(run.run_dir, "corpus")
    gen = gen_corpus.write(corpus, run.args.seed, CORPUS_DOCS)
    truth = gen["docs"]
    setup = run.start_session()

    from test_dataengineer2026_spark.extraction import pipeline

    if run.args.trace:
        run.traced(pipeline, "scan_pdfs", "pipeline.scan")
        run.traced(pipeline, "parse_pages", "pipeline.parse")
        run.traced(pipeline, "extract_all", "pipeline.extract")
        run.traced(pipeline, "run_corpus", "pipeline.run_corpus")

    def one_pass(n: int) -> float | None:
        # Each pass reads the corpus through a fresh directory of hard
        # links: run_corpus caches its document texts, and Spark would
        # serve a second run over the same path from that cache.
        src = os.path.join(run.run_dir, f"in{n}")
        os.mkdir(src)
        for f in os.listdir(corpus):
            os.link(os.path.join(corpus, f), os.path.join(src, f))
        out = os.path.join(run.run_dir, f"out{n}")
        dt = run.op(
            "run_corpus",
            lambda: pipeline.run_corpus(run.spark, src, out, fmt="parquet"),
            n,
        )
        if dt is not None:
            run.rss.paused = True
            problems, counts = check_corpus(out, truth)
            run.rss.paused = False
            if problems:
                run.failed += 1
                run.problems.extend(problems)
            if run.args.trace:
                files = nbytes = 0
                for root, _d, fs in os.walk(out):
                    for f in fs:
                        if f.endswith(".parquet"):
                            files += 1
                            nbytes += os.path.getsize(os.path.join(root, f))
                run.add("sink.files", files)
                run.add("sink.bytes_per_in_byte", nbytes / gen["bytes"])
                for t, k in counts.items():
                    run.add("extract.quarantine_rows" if t == "quarantine" else f"extract.rows.{t}", k)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
        return dt

    cold, warm = run.passes(one_pass, 2)
    done = [w for w in warm if w is not None]
    run.metrics.update(
        setup_s=setup,
        cold_pass_s=cold or 0.0,
        items_per_s=CORPUS_DOCS * len(done) / sum(done) if done else 0.0,
    )
    if run.args.trace:
        pdf_sample(run, corpus, truth)


def pdf_sample(run: Run, corpus: str, truth: dict) -> None:
    """``pdf.*``: single-threaded ``extract_pages`` in the driver over the
    first text documents of the corpus."""
    import hashlib

    from test_dataengineer2026_spark.extraction import pdf

    docs = []
    for f in sorted(os.listdir(corpus)):
        with open(os.path.join(corpus, f), "rb") as fh:
            data = fh.read()
        if truth.get(hashlib.sha256(data).hexdigest()) is not None:
            docs.append(data)
        if len(docs) == PDF_SAMPLE_DOCS:
            break
    t0 = time.perf_counter()
    with run.tracer.span("pdf.extract_pages", docs=len(docs)):
        for d in docs:
            pdf.extract_pages(d)
    ms = (time.perf_counter() - t0) * 1000
    run.layer["pdf.ms_per_doc"] = ms / len(docs)
    run.layer["pdf.ms_per_mb"] = ms / (sum(map(len, docs)) / 1e6)


def heavy_tail(run: Run) -> None:
    """The LLM-data operator queries and bounded streams, noop sink, in a
    seeded order per pass; one query is one operation. Each query is
    checked against its DuckDB oracle once, outside the timed passes."""
    import gen_tables

    sf_dir = gen_tables.write(os.path.join(run.run_dir, "sf"), run.args.seed, TABLES_SF)
    from test_dataengineer2026_spark import registry, tables
    from test_dataengineer2026_spark.streaming import jobs

    def staging() -> None:
        with run.tracer.span("tables.register_views"):
            tables.register_views(run.spark, sf_dir)
        # the staged feed lives under the checkout's .tmp keyed by sf_dir;
        # sf_dir is new per run, so staging always starts from nothing
        run.cleanup.append(jobs.stage_events_dir(sf_dir))

    if run.args.trace:
        run.traced(tables, "load", "tables.load")
    setup = run.start_session(staging)
    specs = registry.all_specs()

    def query(name: str):
        def go() -> None:
            mark = run.counters.mark() if run.counters else None
            with run.tracer.span("queries.build", query=name):
                df = specs[name].fn(run.spark, sf_dir)
            if mark is not None:
                run.add("queries.build_jobs", run.counters.jobs_since(mark))
                from collect import plan_phases

                with run.tracer.span("plan.phases"):
                    for phase, ms in plan_phases(df).items():
                        if f"plan.{phase}_ms" in LAYER_UNITS:
                            run.add(f"plan.{phase}_ms", ms)
            with run.tracer.span("action.noop"):
                df.write.format("noop").mode("overwrite").save()

        return go

    def one_pass(n: int) -> float:
        t0 = time.perf_counter()
        for name in run.rng.sample(HEAVY_TAIL, len(HEAVY_TAIL)):
            run.op(name, query(name), n)
        return time.perf_counter() - t0

    cold, _ = run.passes(one_pass, HEAVY_TAIL_PASSES)
    # throughput of one warm pass from each query's median latency, so a
    # stall in one query's run does not move the figure
    per_query = [
        median([dt for q, n, dt in run.latencies if 0 < n <= HEAVY_TAIL_PASSES and q == name])
        for name in HEAVY_TAIL
    ]
    from checks import check_query, oracle_connection

    run.rss.paused = True
    run.tracer.enabled = False  # the checks are no operation's spans
    con = oracle_connection(sf_dir)
    for name in HEAVY_TAIL:
        run.attempted += 1
        try:
            bad = check_query(run.spark, con, specs[name].fn, specs[name].oracle, sf_dir)
        except Exception as e:  # noqa: BLE001
            bad = f"{type(e).__name__}: {str(e)[:200]}"
        if bad:
            run.failed += 1
            run.problems.append(f"{name}: {bad}")
    run.metrics.update(
        setup_s=setup,
        cold_pass_s=cold,
        items_per_s=len(per_query) / sum(per_query) if all(per_query) else 0.0,
    )


WORKLOADS = {"extract_corpus": extract_corpus, "heavy_tail": heavy_tail}


def stop_spark() -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM (and with
    it the Python workers) to exit; the gateway JVM exits when its stdin
    closes. Safe to call more than once, and before a session exists."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own package, never another copy
    sys.path.insert(0, ROOT)
    try:
        import test_dataengineer2026_spark as pkg
    except ImportError as e:
        print(f"perfbench: the package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        print(f"perfbench: the package is not in {ROOT}: {pkg.__file__}", file=sys.stderr)
        return 2

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=tmp_root)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    # Python workers import the package from PYTHONPATH, whatever the cwd;
    # temp files of Spark, the JVM and Python stay inside the run dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # A 1g driver heap, not the package's 8g: below its cap G1 grows the
    # heap lazily and by a different amount each run, so peak_rss_mb
    # varies by more than its bound between seeds (see README.md). Set
    # SPARK_GRAFT_DRIVER_MEM to run at another heap; records keep it.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    ).strip()

    from collect import RssSampler

    # a terminated run still removes its directories (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host0 = host_snapshot()
    run = Run(args, run_dir)
    try:
        with RssSampler() as run.rss:
            WORKLOADS[args.workload](run)
            if args.trace:
                run.finish_layers()
        run.metrics["peak_rss_mb"] = run.rss.peak / 1e6
    finally:
        stop_spark()
        for d in run.cleanup:
            shutil.rmtree(d, ignore_errors=True)
    host1 = host_snapshot()

    metrics = (
        {k: {"value": run.layer[k], "unit": u} for k, u in LAYER_UNITS.items()}
        if args.trace
        else {k: {"value": run.metrics[k], "unit": u} for k, u in E2E_UNITS.items()}
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": host0["cpus"],
        "driver_memory": run.driver_memory,
        "loadavg": [host0["loadavg"], host1["loadavg"]],
        "steal_pct": steal_pct(host0, host1),
        "e2e": run.metrics,
        "layers": run.layer if args.trace else None,
        "layers_cold": run.cold_layer if args.trace else None,
        "latencies": run.latencies,
        "problems": run.problems,
    }
    rec_dir = os.path.join(ROOT, ".perfbench_records")
    os.makedirs(rec_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = os.path.join(rec_dir, f"{args.workload}-t{args.trace}-s{args.seed}-{stamp}-{os.getpid()}")
    with open(base + ".json", "w") as f:
        json.dump(record, f)
    if args.trace:
        run.tracer.write(base + ".spans.json", {"workload": args.workload, "seed": args.seed})
    for p in run.problems:
        print(f"problem: {p}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
