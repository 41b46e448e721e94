"""Benchmark-side tracing: spans, process-tree memory, Spark event logs.

Nothing here runs inside the package. Spans wrap calls the benchmark makes
into public functions and are stamped on the Spark jobs they start (as the
job description), so the event log of a traced session can be attributed
to them afterwards. Each span path starts with an iteration tag: ``w`` for
the untimed warm-up, ``t<k>`` for timed iteration ``k``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from ocr_platform_spark.operators.resume import SnapshotTable

# SnapshotTable methods that run Spark work or decide what a run reads.
_TABLE_METHODS = ("stage_data", "commit", "invalidate", "read_data")
# The timed phase that is one ``run_extraction_job`` call.
_EXTRACT_PHASE = "resume"


@dataclass
class Span:
    path: str
    start: float  # wall clock, seconds since the epoch
    seconds: float


class Spans:
    """In-memory span recorder; ``sc`` (a SparkContext) receives the span
    path as job description while the span is open."""

    def __init__(self) -> None:
        self.records: list[Span] = []
        self._stack: list[str] = []
        self.sc = None

    @contextmanager
    def span(self, name: str):
        self._stack.append(name)
        path = "/".join(self._stack)
        self._describe(path)
        start, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            self.records.append(Span(path, start, time.perf_counter() - t0))
            self._stack.pop()
            self._describe("/".join(self._stack) or None)

    def _describe(self, path: str | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(path)

    def seconds(self, prefix: str, leaf: str) -> float:
        """Total seconds of spans under ``prefix`` whose last name is ``leaf``."""
        return sum(
            s.seconds
            for s in self.records
            if s.path.startswith(prefix) and s.path.rsplit("/", 1)[-1] == leaf
        )


@contextmanager
def traced_snapshot_table(spans: Spans):
    """Wrap the SnapshotTable methods in spans for the duration."""
    originals = {name: getattr(SnapshotTable, name) for name in _TABLE_METHODS}

    def wrap(name, fn):
        def wrapper(self, *args, **kwargs):
            with spans.span(name):
                return fn(self, *args, **kwargs)

        return wrapper

    for name, fn in originals.items():
        setattr(SnapshotTable, name, wrap(name, fn))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(SnapshotTable, name, fn)


# --- process-tree memory ------------------------------------------------------


def descendants(root: int) -> dict[int, int]:
    """pid -> resident bytes of every descendant of ``root`` (the Spark
    JVM, the Python worker daemon and its workers), ``root`` excluded."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = raw[raw.rfind(")") + 2 :].split()
        pid = int(stat.split("/")[2])
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
    found: dict[int, int] = {}
    todo = list(children[root])
    while todo:
        pid = todo.pop()
        found[pid] = rss.get(pid, 0)
        todo.extend(children[pid])
    return found


class PeakRss:
    """Samples the process tree's resident memory every ``interval`` seconds
    while open; ``peak_mb`` holds the highest sum seen."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, sum(descendants(me).values()) / 1e6)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- Spark event log ----------------------------------------------------------


@dataclass
class Node:
    name: str
    text: str  # simpleString plus the scan location, when there is one


@dataclass
class Stage:
    job: int
    desc: str
    start_ms: int = 0
    end_ms: int = 0
    scopes: set = field(default_factory=set)
    task_ms: list = field(default_factory=list)
    acc: Counter = field(default_factory=Counter)  # accumulator id -> sum of task updates
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0


@dataclass
class Execution:
    desc: str
    start_ms: int = 0
    end_ms: int = 0
    nodes: list = field(default_factory=list)


class EventLog:
    """The parts of an uncompressed Spark event log the layers need: SQL
    executions with their plan nodes, jobs, and per-stage task totals."""

    def __init__(self, log_dir: str) -> None:
        self.metric: dict[int, tuple[Node, str]] = {}  # accumulator id -> (node, metric name)
        self.executions: dict[int, Execution] = {}
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, Stage] = {}
        for path in self._files(log_dir):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    @staticmethod
    def _files(log_dir: str) -> list[str]:
        files = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
        files = [p for p in files if not p.endswith(".crc")]
        return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))

    def _plan(self, execution: Execution, node: dict) -> None:
        location = node.get("metadata", {}).get("Location", "")
        n = Node(node["nodeName"], f"{node['simpleString']} {location}")
        execution.nodes.append(n)
        for m in node.get("metrics", []):
            self.metric[m["accumulatorId"]] = (n, m["name"])
        for child in node.get("children", []):
            self._plan(execution, child)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            ex = self.executions.setdefault(e["executionId"], Execution(e.get("description") or ""))
            ex.start_ms = e["time"]
            self._plan(ex, e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = self.executions.setdefault(e["executionId"], Execution(""))
            self._plan(ex, e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLExecutionEnd":
            self.executions.setdefault(e["executionId"], Execution("")).end_ms = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "desc": desc,
                "execution": int(ex) if ex is not None else None,
                "start_ms": e["Submission Time"],
                "end_ms": e["Submission Time"],
            }
            for sid in e["Stage IDs"]:
                self.stages[sid] = Stage(e["Job ID"], desc)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.get(info["Stage ID"])
            if st is None:
                return
            st.start_ms = info.get("Submission Time", 0)
            st.end_ms = info.get("Completion Time", st.start_ms)
            for rdd in info.get("RDD Info", []):
                if rdd.get("Scope"):
                    st.scopes.add(json.loads(rdd["Scope"])["name"])
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.get(e["Stage ID"])
            if st is None:
                return
            info = e["Task Info"]
            st.task_ms.append(info["Finish Time"] - info["Launch Time"])
            for a in info.get("Accumulables", []):
                if a["ID"] in self.metric and "Update" in a:
                    st.acc[a["ID"]] += int(float(a["Update"]))
            m = e.get("Task Metrics") or {}
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)

    # -- queries ---------------------------------------------------------------

    def node_metric(self, stage: Stage, node_name: str, metric: str) -> int:
        """Sum of ``metric`` over nodes named ``node_name`` updated in ``stage``."""
        return sum(
            v
            for aid, v in stage.acc.items()
            if self.metric[aid][0].name == node_name and self.metric[aid][1] == metric
        )

    def updated_nodes(self, stage: Stage) -> list[Node]:
        return [self.metric[aid][0] for aid in stage.acc]

    def execution_of(self, stage: Stage) -> Execution | None:
        ex = self.jobs[stage.job]["execution"]
        return self.executions.get(ex) if ex is not None else None


def _phase(desc: str) -> tuple[str, str]:
    """(iteration tag, phase) of a span path such as ``t1/resume/commit``."""
    parts = desc.split("/")
    return parts[0], parts[1] if len(parts) > 1 else ""


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def engine_layers(log: EventLog, timed_phases: set[str], job_s: dict[str, float]) -> dict:
    """Per-layer figures from the event log, per timed iteration.

    ``timed_phases`` names the phases inside each iteration's timed window;
    ``job_s`` maps iteration tag -> its measured job seconds. Stages are
    attributed by plan node: MapInArrow -> extract; the range Exchange and
    its sampler -> partitioning; scans of committed snapshots or tombstones
    and the left-anti join -> resume; ArrowEvalPython -> fields; output
    path of the staged write -> curation step."""
    iters = sorted(job_s)
    n = max(len(iters), 1)
    out: Counter = Counter()
    kernel_skew: list[float] = []
    stages = [
        st
        for st in log.stages.values()
        if _phase(st.desc)[0] in job_s and _phase(st.desc)[1] in timed_phases
    ]
    for st in stages:
        tag, phase = _phase(st.desc)
        nodes = log.updated_nodes(st)
        names = {nd.name for nd in nodes}
        secs = (st.end_ms - st.start_ms) / 1000
        out["spark.cpu_s"] += st.cpu_ns / 1e9
        out["spark.gc_s"] += st.gc_ms / 1000
        out["spark.spill_mb"] += st.spill_bytes / 1e6
        out["pipeline.tasks"] += len(st.task_ms)
        if phase == _EXTRACT_PHASE:
            out["partitioning.shuffle_write_mb"] += st.shuffle_write_bytes / 1e6
            out["partitioning.fetch_wait_s"] += st.fetch_wait_ms / 1000
            ex = log.execution_of(st)
            ranged = ex is not None and any(
                nd.name == "Exchange" and "rangepartitioning" in nd.text for nd in ex.nodes
            )
            if ranged and "Exchange" in st.scopes and "Exchange" not in names:
                out["partitioning.sampler_s"] += secs
            if "MapInArrow" in names:
                for metric, key, scale in (
                    ("time to run Python workers", "extract.python_run_s", 1e-3),
                    ("time to start Python workers", "extract.python_start_s", 1e-3),
                    ("data sent to Python workers", "extract.to_python_mb", 1e-6),
                    ("data returned from Python workers", "extract.from_python_mb", 1e-6),
                ):
                    out[key] += log.node_metric(st, "MapInArrow", metric) * scale
                if len(st.task_ms) > 1:
                    kernel_skew.append(max(st.task_ms) / max(statistics.median(st.task_ms), 1))
            own = f"/snapshots/{tag}-{phase}/"
            committed = [
                aid
                for aid in st.acc
                if log.metric[aid][0].name.startswith("Scan parquet")
                and ("/snapshots/" in log.metric[aid][0].text or "/tombstones/" in log.metric[aid][0].text)
                and own not in log.metric[aid][0].text
            ]
            if committed or any("LeftAnti" in nd.text for nd in nodes):
                out["resume.pending_s"] += secs
            out["resume.committed_rows_scanned"] += sum(
                st.acc[aid] for aid in committed if log.metric[aid][1] == "number of output rows"
            )
        if phase == "process" and "ArrowEvalPython" in names:
            out["fields.select_rows_scored"] += log.node_metric(
                st, "ArrowEvalPython", "number of output rows"
            )
            out["fields.select_python_run_s"] += (
                log.node_metric(st, "ArrowEvalPython", "time to run Python workers") / 1000
            )

    jobs = [
        j
        for j in log.jobs.values()
        if _phase(j["desc"])[0] in job_s and _phase(j["desc"])[1] in timed_phases
    ]
    out["pipeline.jobs"] = len(jobs)
    gaps = []
    for tag in iters:
        mine = [(j["start_ms"], j["end_ms"]) for j in jobs if _phase(j["desc"])[0] == tag]
        gaps.append(job_s[tag] - _union_ms(mine) / 1000)

    for ex in log.executions.values():
        tag, phase = _phase(ex.desc)
        if tag not in job_s or phase not in timed_phases:
            continue
        secs = (ex.end_ms - ex.start_ms) / 1000
        names = {nd.name for nd in ex.nodes}
        if phase == _EXTRACT_PHASE and "Execute InsertIntoHadoopFsRelationCommand" not in names:
            if names & {"GlobalLimit", "LocalLimit", "CollectLimit"}:
                out["partitioning.probe_s"] += secs
    out.update(_curation_steps(log, job_s))

    result = {k: v / n for k, v in out.items()}
    result["partitioning.task_skew"] = _median(kernel_skew)
    result["pipeline.driver_gap_s"] = _median(gaps)
    return result


_CURATION_STEPS = (("_winnow_fps", "curation.winnow_s"), ("_dropped", "curation.minhash_s"), ("_exact", "curation.gate_pass_s"))


def _curation_steps(log: EventLog, job_s: dict[str, float]) -> Counter:
    """Funnel executions matched to steps by their staged output path; an
    execution without a write belongs to the step of the write before it
    (the winnow pair count follows the postings write)."""
    out: Counter = Counter()
    execs = sorted(
        (ex for ex in log.executions.values() if _phase(ex.desc)[0] in job_s and _phase(ex.desc)[1] == "funnel"),
        key=lambda ex: ex.start_ms,
    )
    step = {}
    for ex in execs:
        tag = _phase(ex.desc)[0]
        for nd in ex.nodes:
            if nd.name == "Execute InsertIntoHadoopFsRelationCommand":
                path = nd.text.split(" ")[2].rstrip(",")
                step[tag] = next((key for suffix, key in _CURATION_STEPS if path.endswith(suffix)), step.get(tag))
                break
        out[step.get(tag, "curation.gate_pass_s")] += (ex.end_ms - ex.start_ms) / 1000
    return out
