"""Spans around the benchmark's calls into each engine layer, and the
per-layer metrics derived from them and from the Spark event log.

A span has a name, start, end, parent and pass id. A span that names a
layer runs under its own Spark job group, so every job it triggers is
attributed to it: job counts and task metrics are joined back to spans
through the group id recorded in the event log. Spans stay in memory
until the run ends.

A layer's time is the self time of its spans: a span's duration minus the
part covered by its child spans. `kind` says whether the span builds a
DataFrame ("build") or forces or writes one ("exec").
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = (
    "sources",
    "operators.normalize",
    "operators.merge",
    "plans.pipeline",
    "sinks.metadata",
    "operators.derive",
    "operators.analyze",
    "sinks.graph_csv",
    "sinks.answercoalesce",
    "sinks.incremental",
    "llm.dedup",
    "llm.near_dup_history",
    "llm.similarity",
    "operators.graphalgo",
    "plans.queries",
)
LAYER_METRICS = (
    ("build_s", "s"),
    ("build_jobs", "count"),
    ("exec_s", "s"),
    ("jobs", "count"),
    ("task_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
)
GLOBAL_METRICS = (("spark.failed_tasks", "count"), ("trace.overhead_s", "s"))


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS}
    units.update(GLOBAL_METRICS)
    return units


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0
    layer: str | None = None
    kind: str | None = None

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class NullTracer:
    """Untraced passes: no spans, no job groups, nothing recorded."""

    @contextmanager
    def span(self, name, layer=None, kind=None):
        yield


class Tracer:
    """Records spans. `overhead_s` accumulates the time spent in the
    tracer's own bookkeeping, job-group switches included."""

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = 0  # a run makes one pass
        self.overhead_s = 0.0

    def _charge(self, since: float) -> None:
        self.overhead_s += time.perf_counter() - since

    def _set_group(self, span: Span | None) -> None:
        # the innermost enclosing span with a layer owns the jobs
        while span is not None and span.layer is None:
            span = self.spans[span.parent] if span.parent is not None else None
        self._sc.setLocalProperty("spark.jobGroup.id", span.group if span else None)

    @contextmanager
    def span(self, name, layer=None, kind=None):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans), name=name,
            parent=parent.id if parent else None, pass_id=self.pass_id,
            start=t, layer=layer, kind=kind,
        )
        self.spans.append(s)
        self._stack.append(s)
        if layer is not None:
            self._set_group(s)
        self._charge(t)
        try:
            yield s
        finally:
            t = time.perf_counter()
            s.end = t
            self._stack.pop()
            if layer is not None:
                self._set_group(parent)
            self._charge(t)


class PhaseRecorder:
    """The `recorder=` object `plans.pipeline.build_graph` accepts: each
    named phase becomes a span charged to the layer that does its work."""

    LAYER_OF = {
        "write_nodes": "operators.merge",
        "write_edges": "operators.merge",
        "metadata_sidecars": "sinks.metadata",
        "merge_report": "sinks.metadata",
    }

    def __init__(self, tracer):
        self._tracer = tracer

    def phase(self, name: str):
        return self._tracer.span(
            f"build_graph.{name}", self.LAYER_OF.get(name, "plans.pipeline"), "exec"
        )


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(path: str) -> tuple[dict[str, list[int]], dict[int, list[dict]]]:
    """Returns (job group -> job ids, job id -> its task records). A task
    record has the task's stage, launch and finish times and duration in
    ms, executor CPU in ns, shuffle bytes written, disk bytes spilled and
    whether it failed."""
    group_jobs: dict[str, list[int]] = {}
    stage_job: dict[int, int] = {}
    job_tasks: dict[int, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    group_jobs.setdefault(group, []).append(job)
                for stage in ev.get("Stage IDs", ()):
                    stage_job.setdefault(stage, job)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                job_tasks.setdefault(job, []).append({
                    "stage": ev["Stage ID"],
                    "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "launch": info.get("Launch Time", 0),
                    "finish": info.get("Finish Time", 0),
                    "failed": bool(info.get("Failed")),
                })
    return group_jobs, job_tasks


def _self_times(spans: list[Span]) -> dict[int, float]:
    own = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= s.end - s.start
    return own


def _skew(tasks: list[dict]) -> float:
    """Largest / median task time of the longest stage among `tasks`."""
    if not tasks:
        return 0.0
    by_stage: dict[int, list[dict]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    longest = max(
        by_stage.values(),
        key=lambda ts: max(t["finish"] for t in ts) - min(t["launch"] for t in ts),
    )
    times = [max(t["ms"], 1) for t in longest]
    return max(times) / statistics.median(times)


def pass_layer_metrics(
    spans: list[Span], group_jobs: dict, job_tasks: dict
) -> dict[str, float]:
    """Per-layer metrics of one pass's spans, plus its failed tasks."""
    own = _self_times(spans)
    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m, _ in LAYER_METRICS}
    tasks_of: dict[str, list[dict]] = {layer: [] for layer in LAYERS}
    for s in spans:
        if s.layer is None:
            continue
        jobs = group_jobs.get(s.group, [])
        prefix = f"{s.layer}."
        if s.kind == "build":
            out[prefix + "build_s"] += own[s.id]
            out[prefix + "build_jobs"] += len(jobs)
        else:
            out[prefix + "exec_s"] += own[s.id]
            out[prefix + "jobs"] += len(jobs)
        for job in jobs:
            tasks_of[s.layer].extend(job_tasks.get(job, ()))
    for layer, tasks in tasks_of.items():
        out[f"{layer}.task_cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9
        out[f"{layer}.shuffle_write_mb"] = sum(t["shuffle_bytes"] for t in tasks) / 2**20
        out[f"{layer}.spill_mb"] = sum(t["spill_bytes"] for t in tasks) / 2**20
        out[f"{layer}.task_skew"] = _skew(tasks)
    out["spark.failed_tasks"] = sum(
        t["failed"] for tasks in tasks_of.values() for t in tasks
    )
    return out
