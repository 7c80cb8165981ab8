"""Per-layer ledger: a Spark event log joined to the benchmark's spans.

Reads the event log that ``spark.eventLog.enabled`` writes (one
uncompressed JSON-lines file: compression and rolling turned off) with
the stdlib ``json`` module only, and answers, for any set of spans: which
jobs, stages and tasks ran inside them, what the executors spent, and the
SQL metrics of every physical plan node they executed.

How the pieces are joined:

- job -> span: the ``spark.job.description`` the span set on its thread,
  else (jobs the program submits from its own worker threads) the
  innermost span open when the job was submitted;
- stage -> job: the first job that lists the stage (later jobs skip it);
- plan node -> SQL execution -> span of the execution's first job. Nodes
  are keyed by their accumulator ids, so the plans that adaptive query
  execution re-publishes for one execution collapse onto one node each,
  and the newest plan decides a node's children;
- metric values: the sum of task updates plus driver-side updates, per
  accumulator.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
ROWS = ("number of output rows", "records read")


@dataclass
class Node:
    name: str
    text: str
    execution: int
    metrics: dict[str, int]
    # per child: the accumulators that count the rows entering from it
    inputs: list[list[int]]


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int | None
    description: str | None
    execution: int | None


@dataclass
class Stage:
    id: int
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_records_read: list[int] = field(default_factory=list)
    accums: set[int] = field(default_factory=set)


def is_python(node: Node) -> bool:
    n = node.name
    return "Python" in n or "InPandas" in n or "InArrow" in n


class EventLog:
    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.stage_job: dict[int, int] = {}
        self.nodes: dict[tuple[int, frozenset], Node] = {}
        self.accum: dict[int, float] = defaultdict(float)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    log.feed(json.loads(line))
        return log

    def feed(self, e: dict) -> None:
        kind = e["Event"]
        if kind in (SQL_START, SQL_AQE):
            self._walk(e["sparkPlanInfo"], e["executionId"])
        elif kind == SQL_DRIVER:
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] += value
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"],
                e["Submission Time"],
                None,
                props.get("spark.job.description"),
                int(ex) if ex is not None else None,
            )
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.accums.update(
                a["ID"] for a in info.get("Accumulables", []) if a.get("Metadata") == "sql"
            )

    def _walk(self, info: dict, execution: int) -> list[int]:
        """Register the nodes of one plan tree; returns the accumulators
        counting the rows this subtree emits."""
        child_rows = [self._walk(c, execution) for c in info["children"]]
        metrics = {m["name"]: m["accumulatorId"] for m in info["metrics"]}
        if metrics:
            key = (execution, frozenset(metrics.values()))
            self.nodes[key] = Node(
                info["nodeName"], info["simpleString"], execution, metrics, child_rows
            )
        for name in ROWS:
            if name in metrics:
                return [metrics[name]]
        return [a for rows in child_rows for a in rows]

    def _task(self, e: dict) -> None:
        sid = e["Stage ID"]
        st = self.stages.setdefault(sid, Stage(sid))
        st.tasks += 1
        m = e.get("Task Metrics") or {}
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        st.task_records_read.append(rd.get("Total Records Read", 0))
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            if a.get("Metadata") == "sql" and "Update" in a:
                self.accum[a["ID"]] += float(a["Update"])
                st.accums.add(a["ID"])


class Ledger:
    """An event log attributed to a list of spans (spans.Tracer.spans)."""

    def __init__(self, log: EventLog, spans: list[dict]):
        self.log = log
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.job_span = {j.id: self._span_of(j) for j in log.jobs.values()}
        first_job: dict[int, int] = {}
        for j in sorted(log.jobs.values(), key=lambda j: j.id):
            if j.execution is not None:
                first_job.setdefault(j.execution, j.id)
        self.execution_span = {ex: self.job_span[jid] for ex, jid in first_job.items()}

    def _span_of(self, job: Job) -> int | None:
        t = job.submit_ms / 1000.0
        open_then = [
            s
            for s in self.spans.values()
            if s["start"] <= t and (s["end"] is None or t <= s["end"])
        ]
        named = [s for s in open_then if s["name"] == job.description]
        pick = named or open_then
        return max(pick, key=lambda s: s["start"])["id"] if pick else None

    def named(self, name: str, within: list[dict] | None = None) -> list[dict]:
        """Spans called ``name`` (inside the ``within`` spans, if given),
        in start order."""
        out = [s for s in self.spans.values() if s["name"] == name]
        if within is not None:
            ids = self.subtree(within)
            out = [s for s in out if s["id"] in ids]
        return sorted(out, key=lambda s: s["start"])

    def subtree(self, spans: list[dict]) -> set[int]:
        todo = [s["id"] for s in spans]
        seen: set[int] = set()
        while todo:
            sid = todo.pop()
            if sid not in seen:
                seen.add(sid)
                todo.extend(self.children[sid])
        return seen

    def jobs(self, spans: list[dict]) -> list[Job]:
        ids = self.subtree(spans)
        return [j for j in self.log.jobs.values() if self.job_span[j.id] in ids]

    def stages(self, spans: list[dict]) -> list[Stage]:
        jobs = {j.id for j in self.jobs(spans)}
        return [
            st for sid, st in self.log.stages.items() if self.log.stage_job.get(sid) in jobs
        ]

    def nodes(self, spans: list[dict], pred=lambda n: True) -> list[Node]:
        ids = self.subtree(spans)
        return [
            n
            for n in self.log.nodes.values()
            if self.execution_span.get(n.execution) in ids and pred(n)
        ]

    def value(self, node: Node, metric: str) -> float:
        acc = node.metrics.get(metric)
        return self.log.accum.get(acc, 0.0) if acc is not None else 0.0

    def total(self, nodes: list[Node], metric: str) -> float:
        return sum(self.value(n, metric) for n in nodes)

    def rows_in(self, node: Node, child: int | None = None) -> float:
        inputs = node.inputs if child is None else node.inputs[child : child + 1]
        return sum(self.log.accum.get(a, 0.0) for rows in inputs for a in rows)

    def stage_run_s(self, spans: list[dict], nodes: list[Node]) -> float:
        """Executor run time of the stages that executed any of ``nodes``."""
        accs = {a for n in nodes for a in n.metrics.values()}
        return sum(st.run_ms for st in self.stages(spans) if st.accums & accs) / 1000.0

    def engine(self, spans: list[dict], wall_s: float, cores: int) -> dict[str, float]:
        st = self.stages(spans)
        cpu_s = sum(s.cpu_ns for s in st) / 1e9
        return {
            "executor.run_s": sum(s.run_ms for s in st) / 1000.0,
            "executor.cpu_s": cpu_s,
            "gc_s": sum(s.gc_ms for s in st) / 1000.0,
            "shuffle.read_bytes": float(sum(s.shuffle_read_bytes for s in st)),
            "shuffle.write_bytes": float(sum(s.shuffle_write_bytes for s in st)),
            "spill_bytes": float(sum(s.spill_bytes for s in st)),
            "tasks": float(sum(s.tasks for s in st)),
            "cpu_busy_ratio": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
        }

    def skew_max(self, spans: list[dict]) -> float:
        """Worst stage's max / median task shuffle-read records."""
        worst = 0.0
        for st in self.stages(spans):
            recs = st.task_records_read
            if len(recs) >= 2 and statistics.median(recs) > 0:
                worst = max(worst, max(recs) / statistics.median(recs))
        return worst

    def job_intervals(self, spans: list[dict]) -> list[tuple[float, float]]:
        return [
            (j.submit_ms / 1000.0, (j.end_ms or j.submit_ms) / 1000.0)
            for j in self.jobs(spans)
        ]


def idle_time(start: float, end: float, busy: list[tuple[float, float]]) -> float:
    """Part of [start, end] that no interval in ``busy`` covers."""
    covered, cursor = 0.0, start
    for a, b in sorted(busy):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return (end - start) - covered


def duration(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)
