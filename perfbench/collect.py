"""Outside-in counters: Spark's status stores, plan-phase trackers, a
streaming listener, and process-tree RSS from ``/proc``.

All of it works with ``spark.ui.enabled=false``. Call ``Counters.mark``
before an operation and ``Counters.since`` right after it: the status
store evicts stages and executions beyond its retained limits, so
counters are read per operation, never at the end of a run.
"""

from __future__ import annotations

import dataclasses
import os
import re
import threading
import time

from spans import ns_to_ms

#: Physical nodes that run Python workers (their metrics give the
#: Python-boundary layer).
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "TransformWithStateInPandas",
    "TransformWithStateInPySpark",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
)
JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "ns": 1e-6,
}
_VALUE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string as a number: sizes in bytes, timings
    in ms, sums as counts. Multi-task values read ``total (min, med,
    max ...)\\n<total> (...)``; the total is the first value on the last
    line."""
    line = text.strip().splitlines()[-1] if text else ""
    m = _VALUE_RE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


@dataclasses.dataclass
class Mark:
    """Newest job, stage and SQL execution ids, and the time, at a mark."""

    job: int
    stage: int
    execution: int
    t: float


class Counters:
    """Deltas of Spark's own counters between a ``mark`` and now."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = sc.defaultParallelism

    def _stages(self):
        return self._store.stageList(
            None, False, False, self._gw.new_array(self._gw.jvm.double, 0), None
        )

    def _max_job(self) -> int:
        jobs = self._store.jobsList(None)  # a Scala Seq, newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def mark(self) -> Mark:
        stages = self._stages()  # newest first
        top = stages.apply(0).stageId() if stages.size() else -1
        execs = self._sql.executionsList()  # oldest first
        n = execs.size()
        ex = execs.apply(n - 1).executionId() if n else -1
        return Mark(self._max_job(), top, ex, time.perf_counter())

    def jobs_since(self, mark: Mark) -> int:
        return max(0, self._max_job() - mark.job)

    def since(self, mark: Mark) -> dict[str, float]:
        """Stage, shuffle, scan, Python-node and join counters of every
        job, stage and SQL execution started after ``mark``."""
        wall = time.perf_counter() - mark.t
        c: dict[str, float] = dict.fromkeys(
            (
                "exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms",
                "exec.cpu_ms", "exec.gc_ms", "shuffle.write_bytes",
                "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.bytes",
                "scan.files", "scan.tasks", "scan.bytes", "scan.time_ms",
                "python.rows", "python.bytes_sent", "python.bytes_received",
                "python.stage_run_ms", "join.rows", "result.rows",
            ),
            0.0,
        )
        c["exec.jobs"] = self.jobs_since(mark)
        python_stages: set[int] = set()
        execs = self._sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= mark.execution:
                break
            python_stages |= self._execution(e.executionId(), c)
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark.stage:
                break
            c["exec.stages"] += 1
            c["exec.tasks"] += s.numTasks()
            c["exec.run_ms"] += s.executorRunTime()
            c["exec.cpu_ms"] += ns_to_ms(s.executorCpuTime())
            c["exec.gc_ms"] += s.jvmGcTime()
            c["shuffle.write_bytes"] += s.shuffleWriteBytes()
            c["shuffle.read_bytes"] += s.shuffleReadBytes()
            c["shuffle.fetch_wait_ms"] += s.shuffleFetchWaitTime()
            c["spill.bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.inputBytes() > 0:
                c["scan.tasks"] += s.numTasks()
                c["scan.bytes"] += s.inputBytes()
            if s.stageId() in python_stages:
                c["python.stage_run_ms"] += s.executorRunTime()
        c["wall_s"] = wall
        return c

    def _execution(self, eid: int, c: dict[str, float]) -> set[int]:
        """Fold one SQL execution's node metrics into ``c``; returns the
        ids of stages named by its Python nodes' metrics."""
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        stages: set[int] = set()
        first_rows = None
        joins = 0.0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            ms = node.metrics()
            got: dict[str, str] = {}
            for k in range(ms.size()):
                pm = ms.apply(k)
                v = values.get(pm.accumulatorId())
                if v.isDefined():
                    got[pm.name()] = v.get()
            rows = parse_metric(got.get("number of output rows", ""))
            if first_rows is None and "number of output rows" in got:
                first_rows = rows
            if name.startswith("Scan"):
                c["scan.files"] += parse_metric(got.get("number of files read", ""))
                c["scan.time_ms"] += parse_metric(got.get("scan time", ""))
            elif name.startswith(PYTHON_NODES):
                c["python.rows"] += rows
                c["python.bytes_sent"] += parse_metric(
                    got.get("data sent to Python workers", "")
                )
                c["python.bytes_received"] += parse_metric(
                    got.get("data returned from Python workers", "")
                )
                for text in got.values():
                    stages.update(int(x) for x in re.findall(r"stage (\d+)\.", text))
            elif name.startswith(JOIN_NODES):
                joins = max(joins, rows)
        c["join.rows"] += joins
        c["result.rows"] += first_rows or 0.0
        return stages


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of a DataFrame's QueryExecution. The
    tracker only holds optimization and planning once ``executedPlan``
    has been forced, so this forces it (the noop write plans its own)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class StreamProgress:
    """StreamingQueryListener recording every progress event. ``take``
    and ``detach`` wait, with a deadline, until each started query's
    terminated event has arrived, so trailing progress events are not
    dropped and are never counted against a later operation."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        # the listener runs on the py4j callback thread
        self._lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.terminated: dict[str, float] = {}
        self.progress: list = []
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.started[str(event.id)] = time.perf_counter()

            def onQueryProgress(self, event):
                with outer._lock:
                    outer.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated[str(event.id)] = time.perf_counter()

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def wait_terminated(self, timeout_s: float = 30.0) -> bool:
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                if set(self.started) <= set(self.terminated):
                    return True
            if time.monotonic() > deadline:
                return False
            time.sleep(0.02)

    def detach(self, timeout_s: float = 30.0) -> bool:
        ok = self.wait_terminated(timeout_s)
        self.spark.streams.removeListener(self._listener)
        return ok

    def take(self, timeout_s: float = 30.0) -> tuple[dict[str, float], bool]:
        """Summary of the streams run since the previous ``take``, once
        each has terminated; and whether every one had by the deadline."""
        ok = self.wait_terminated(timeout_s)
        with self._lock:
            progress, self.progress = self.progress, []
            done = [q for q in self.started if q in self.terminated]
            wall = sum(self.terminated.pop(q) - self.started.pop(q) for q in done)
        return summarize_progress(progress, wall), ok


def summarize_progress(progress: list, wall_s: float) -> dict[str, float]:
    """Sums of the streaming progress events' durations and input rows;
    ``state.*`` are each state operator's peak. ``_stream_wall_s`` is the
    streams' summed start-to-terminated time."""
    c = dict.fromkeys(
        (
            "stream.batches", "stream.input_rows", "stream.trigger_ms",
            "stream.add_batch_ms", "stream.planning_ms",
            "stream.wal_commit_ms", "stream.latest_offset_ms",
            "state.commit_ms", "state.rows_total", "state.memory_bytes",
            "state.partitions",
        ),
        0.0,
    )
    for p in progress:
        d = p.durationMs or {}
        c["stream.batches"] += 1
        c["stream.input_rows"] += p.numInputRows
        c["stream.trigger_ms"] += d.get("triggerExecution", 0)
        c["stream.add_batch_ms"] += d.get("addBatch", 0)
        c["stream.planning_ms"] += d.get("queryPlanning", 0)
        c["stream.wal_commit_ms"] += d.get("walCommit", 0)
        c["stream.latest_offset_ms"] += d.get("latestOffset", 0)
        for op in p.stateOperators:
            c["state.commit_ms"] += op.commitTimeMs
            c["state.rows_total"] = max(c["state.rows_total"], op.numRowsTotal)
            c["state.memory_bytes"] = max(c["state.memory_bytes"], op.memoryUsedBytes)
            c["state.partitions"] = max(c["state.partitions"], op.numShufflePartitions)
    c["_stream_wall_s"] = wall_s
    return c


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from ``/proc`` while not
    ``paused`` (the benchmark pauses it around its own input generation
    and output checks). Each process counts its proportional set size:
    Python workers are forked from one daemon, and summing plain RSS
    would count their shared pages once per worker. A process counts
    only from its second sample on: a child the JVM forks for a moment
    (a shell command) would otherwise be read after the fork while its
    parent was read before it, counting the shared pages twice."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak = 0
        self.paused = True
        self._seen: set[int] = set()
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def tree_rss(self) -> int:
        """Summed PSS in bytes of this process and its descendants that
        were already alive at the previous call."""
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        counted, self._seen = tree & self._seen, tree
        for pid in counted | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(ln for ln in f if ln.startswith("Pss:"))
                total += int(pss.split()[1]) * 1024
            except (OSError, StopIteration, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            if not self.paused:
                self.peak = max(self.peak, self.tree_rss())
            self._stop.wait(self._interval)
