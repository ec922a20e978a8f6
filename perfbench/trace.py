"""Spans around the package's public entry points, and a parser for Spark's
event log that turns a traced run into per-layer numbers.

Tracing is done from outside the package: :class:`Tracer` replaces a fixed
list of public functions and methods with wrappers while it is installed.
Each wrapper opens a span (name, start, end, parent span) and, for the
duration of the call, sets the Spark job group of the calling thread to the
span's key, so that every Spark job the call launches names the span that
caused it. :class:`EventLog` reads the uncompressed event log that Spark
writes when ``spark.eventLog.enabled`` is on and joins plan-node metric ids
from the SQL execution events with the task accumulables.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

GROUP_PREFIX = "perfbench:"
_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    phase: str
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; jobs are tied to spans by job group."""

    def __init__(self, spark_context_getter):
        self._sc = spark_context_getter
        self.spans: list[Span] = []
        self.phase = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1].id
        with self._lock:
            sp = Span(len(self.spans), name, parent, self.phase, time.time())
            self.spans.append(sp)
        sc = self._sc()
        prev = sc.getLocalProperty(_GROUP) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(_GROUP, f"{GROUP_PREFIX}{sp.id}")
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            if sc is not None:
                sc.setLocalProperty(_GROUP, prev)

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1].id if stack else None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    # ----------------------------------------------------------- patching

    def install(self, targets: list[tuple[object, str, str]]) -> None:
        """Wrap ``getattr(owner, attr)`` in a span called ``name``."""
        for owner, attr, name in targets:
            original = getattr(owner, attr)
            self._patches.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    # ------------------------------------------------------------ queries

    def under(self, match, phase: str) -> set[int]:
        """Ids of spans in ``phase`` that are, or descend from, a span for
        which ``match(span)`` holds."""
        by_id = {s.id: s for s in self.spans}
        out = set()
        for s in self.spans:
            if s.phase != phase:
                continue
            cur: Span | None = s
            while cur is not None:
                if match(cur):
                    out.add(s.id)
                    break
                cur = by_id.get(cur.parent) if cur.parent is not None else None
        return out

    def named(self, name: str, phase: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.phase == phase]


@dataclass
class Job:
    id: int
    span: int | None
    submitted_ms: int
    completed_ms: int = 0

    @property
    def seconds(self) -> float:
        return max(0, self.completed_ms - self.submitted_ms) / 1000.0


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    getting_result_ms: int
    metrics: dict
    accums: dict[int, int] = field(default_factory=dict)

    @property
    def shuffle_read_bytes(self) -> int:
        r = self.metrics.get("Shuffle Read Metrics", {})
        return int(r.get("Local Bytes Read", 0)) + int(r.get("Remote Bytes Read", 0))

    @property
    def shuffle_write_bytes(self) -> int:
        return int(self.metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))

    @property
    def scheduler_delay_ms(self) -> int:
        m = self.metrics
        busy = (
            m.get("Executor Run Time", 0) + m.get("Executor Deserialize Time", 0)
            + m.get("Result Serialization Time", 0) + self.getting_result_ms
        )
        return max(0, self.finish_ms - self.launch_ms - busy)


# plan nodes that only wrap their child: a partial aggregation sits right
# below the Exchange once these are skipped
_WRAPPERS = ("WholeStageCodegen", "InputAdapter", "ShuffleQueryStage", "AQEShuffleRead")
_AGGS = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
_ROWS = "number of output rows"


class EventLog:
    """One Spark application's event log, reduced to jobs, tasks and the
    plan-node metrics their accumulables belong to."""

    def __init__(self, path: str | Path):
        files = self._files(Path(path))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {path}")
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        self.stage_span: dict[int, int | None] = {}
        self.stage_exec: dict[int, int | None] = {}
        # accumulator id -> (execution id, node name, metric name, metric type)
        self.accums: dict[int, tuple[int, str, str, str]] = {}
        # execution id -> [(partial agg rows-out acc, its input rows acc)]
        self.partial_aggs: dict[int, set[tuple[int, int]]] = {}
        for f in files:
            with f.open() as fh:
                for line in fh:
                    if line.strip():
                        self._event(json.loads(line))

    @staticmethod
    def _files(path: Path) -> list[Path]:
        # a rolling (v2) log: a directory of events_<n>_<app> files
        return sorted(path.rglob("events_*"), key=lambda p: int(p.name.split("_")[1]))

    # ------------------------------------------------------------ parsing

    @staticmethod
    def _span_of(props: dict | None) -> int | None:
        group = (props or {}).get(_GROUP) or ""
        if group.startswith(GROUP_PREFIX):
            return int(group[len(GROUP_PREFIX):])
        return None

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], self._span_of(e.get("Properties")),
                int(e.get("Submission Time", 0)),
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job.completed_ms = int(e.get("Completion Time", 0))
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            sid = e["Stage Info"]["Stage ID"]
            self.stage_span[sid] = self._span_of(props)
            ex = props.get("spark.sql.execution.id")
            self.stage_exec[sid] = int(ex) if ex is not None else None
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            accums = {}
            for a in info.get("Accumulables", []):
                try:
                    accums[int(a["ID"])] = int(a.get("Update", 0))
                except (TypeError, ValueError):
                    continue  # non-numeric internal accumulables
            self.tasks.append(Task(
                e["Stage ID"], int(info.get("Launch Time", 0)),
                int(info.get("Finish Time", 0)), int(info.get("Getting Result Time", 0)),
                e.get("Task Metrics") or {}, accums,
            ))
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            # every plan version of an execution: AQE re-plans with new
            # metric ids, and the tasks report against the ids of the plan
            # version that ran them
            self._plan(int(e["executionId"]), e["sparkPlanInfo"])

    def _plan(self, execution: int, node: dict) -> None:
        name = node["nodeName"]
        for m in node.get("metrics", []):
            self.accums[int(m["accumulatorId"])] = (execution, name, m["name"], m["metricType"])
        if name == "Exchange":
            pair = self._partial_agg(node)
            if pair is not None:
                self.partial_aggs.setdefault(execution, set()).add(pair)
        for child in node.get("children", []):
            self._plan(execution, child)

    @staticmethod
    def _rows_acc(node: dict) -> int | None:
        for m in node.get("metrics", []):
            if m["name"] == _ROWS:
                return int(m["accumulatorId"])
        return None

    def _partial_agg(self, exchange: dict) -> tuple[int, int] | None:
        node = exchange
        while True:
            kids = node.get("children", [])
            if len(kids) != 1:
                return None
            node = kids[0]
            if not node["nodeName"].startswith(_WRAPPERS):
                break
        if not node["nodeName"].startswith(_AGGS):
            return None
        out_acc = self._rows_acc(node)
        below = node
        # the rows fed to the aggregate: the nearest descendant that counts
        # its output rows (Project and the wrappers do not)
        while True:
            kids = below.get("children", [])
            if len(kids) != 1:
                return None
            below = kids[0]
            in_acc = self._rows_acc(below)
            if in_acc is not None:
                break
        if out_acc is None:
            return None
        return out_acc, in_acc

    # ------------------------------------------------------------ queries

    def jobs_in(self, spans: set[int]) -> list[Job]:
        return [j for j in self.jobs.values() if j.span in spans]

    def tasks_in(self, spans: set[int]) -> list[Task]:
        return [t for t in self.tasks if self.stage_span.get(t.stage) in spans]

    def node_metric(self, tasks: list[Task], nodes: tuple[str, ...], metric: str) -> int:
        """Sum of the task updates of one metric of every plan node whose
        name is in ``nodes``."""
        ids = {
            acc for acc, (_, n, m, _) in self.accums.items() if n in nodes and m == metric
        }
        return sum(v for t in tasks for acc, v in t.accums.items() if acc in ids)

    def partial_agg_rows(self, tasks: list[Task]) -> tuple[int, int]:
        """(rows out, rows in) summed over the partial aggregations that ran
        in ``tasks``."""
        execs = {self.stage_exec.get(t.stage) for t in tasks}
        pairs = [p for ex in execs for p in self.partial_aggs.get(ex, ())]
        outs = {p[0] for p in pairs}
        ins = {p[1] for p in pairs}
        out_rows = sum(v for t in tasks for acc, v in t.accums.items() if acc in outs)
        in_rows = sum(v for t in tasks for acc, v in t.accums.items() if acc in ins)
        return out_rows, in_rows


def shuffle_skew(tasks: list[Task]) -> float:
    """Largest, over the stages that read shuffle data, of max task
    shuffle read ÷ median task shuffle read (tasks that read nothing are
    left out of the median). 1.0 means even; 0.0 means no shuffle read."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        if t.shuffle_read_bytes > 0:
            by_stage.setdefault(t.stage, []).append(t.shuffle_read_bytes)
    ratios = [max(v) / statistics.median(v) for v in by_stage.values()]
    return max(ratios, default=0.0)
