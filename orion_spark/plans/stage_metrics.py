"""Measured per-phase shuffle/IO accounting for composed pipelines.

SCALE.md's shuffle-accounting table stated where each operator family
shuffles; this module turns those *asserted* rows into *measured* ones.
Wrap each driver-side phase of a composed run in `PhaseRecorder.phase(...)`:
the phase runs under its own Spark job group, and `report()` reads the
Spark event log (written with the UI off, replayed by a history server on
a cluster) to sum that group's completed stages and task input / output /
shuffle-read / shuffle-write bytes. A stage counts for the group in its
submit properties, i.e. the phase that ran it; skipped stages (reused
exchanges) never complete and add zero bytes: a reused shuffle is not
re-paid. `read_event_log` is also the parser behind tools/job_profile.py.

The engine's default sessions write no event log, so measured runs opt in
with their own session (`PLAIN_EVENT_LOG`, see tools/build_stage_metrics.py);
a recorder on any other session raises at once. Spark writes the log
asynchronously, so call `report()` after `spark.stop()`.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager

GROUP = "spark.jobGroup.id"
# session confs for a single-file, uncompressed log; add spark.eventLog.dir
PLAIN_EVENT_LOG = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
BYTE_KEYS = ("input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes")
# stage field <- summed task metric (section of "Task Metrics", name)
TASK_SUMS = (
    ("task_ms", None, "Executor Run Time"),
    ("fetch_wait_ms", "Shuffle Read Metrics", "Fetch Wait Time"),
    ("input_bytes", "Input Metrics", "Bytes Read"),
    ("output_bytes", "Output Metrics", "Bytes Written"),
    ("shuffle_read_bytes", "Shuffle Read Metrics", "Remote Bytes Read"),
    ("shuffle_read_bytes", "Shuffle Read Metrics", "Local Bytes Read"),
    ("shuffle_write_bytes", "Shuffle Write Metrics", "Shuffle Bytes Written"),
)


def read_event_log(path: str) -> tuple[dict[int, dict], dict[int, dict]]:
    """Parses a plain Spark event log into (job id -> job, stage id ->
    stage). A job has its group, description, submit/end times in ms and
    stage ids; a stage has its group, name, task count, wall time, whether
    it completed, and its tasks' summed `TASK_SUMS`."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "group": None, "name": "", "tasks": 0, "wall_s": 0.0,
            "completed": False, **{key: 0 for key, _, _ in TASK_SUMS},
        })

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get(GROUP),
                    "desc": props.get("spark.job.description") or "",
                    "start": ev["Submission Time"],
                    "end": None,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                st = stage(ev["Stage Info"]["Stage ID"])
                st["group"] = (ev.get("Properties") or {}).get(GROUP)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"])
                st["name"] = info["Stage Name"].split("\n")[0]
                st["tasks"] = info["Number of Tasks"]
                st["wall_s"] = (
                    info.get("Completion Time", 0) - info.get("Submission Time", 0)
                ) / 1000.0
                st["completed"] = "Failure Reason" not in info
            elif kind == "SparkListenerTaskEnd":
                st = stage(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                for key, section, name in TASK_SUMS:
                    st[key] += ((m.get(section) or {}) if section else m).get(name, 0)
    return jobs, stages


def group_totals(jobs: dict[int, dict], stages: dict[int, dict], group: str) -> dict:
    """Jobs, completed stages and their summed bytes of one job group."""
    done = [s for s in stages.values() if s["group"] == group and s["completed"]]
    return {
        "n_jobs": sum(j["group"] == group for j in jobs.values()),
        "n_stages": len(done),
        **{k: sum(s[k] for s in done) for k in BYTE_KEYS},
    }


class NullRecorder:
    """No-op stand-in so instrumented call sites need no branching."""

    @contextmanager
    def phase(self, name: str):
        yield

    def report(self) -> list[dict]:
        return []


class PhaseRecorder:
    """Attributes per-stage byte metrics to named driver-side phases."""

    def __init__(self, spark):
        sc = spark.sparkContext
        conf = sc.getConf()
        if any(conf.get(k) != v for k, v in PLAIN_EVENT_LOG.items()):
            raise RuntimeError(
                "PhaseRecorder reads the Spark event log: create the session "
                f"with {PLAIN_EVENT_LOG} and a spark.eventLog.dir"
            )
        self._sc = sc
        self._log = os.path.join(
            conf.get("spark.eventLog.dir", "/tmp/spark-events"), sc.applicationId
        )
        self._phases: list[tuple[str, float, str]] = []  # name, wall s, group

    @contextmanager
    def phase(self, name: str):
        group = f"phase-recorder-{uuid.uuid4().hex}"
        prev = self._sc.getLocalProperty(GROUP)
        self._sc.setLocalProperty(GROUP, group)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self._sc.setLocalProperty(GROUP, prev)
        self._phases.append((name, round(time.monotonic() - t0, 3), group))

    def report(self) -> list[dict]:
        """Per-phase rows; read after `spark.stop()` (see module notes)."""
        jobs, stages = read_event_log(self._log)
        return [
            {"phase": name, "wall_s": wall, **group_totals(jobs, stages, group)}
            for name, wall, group in self._phases
        ]


def report_markdown(phases: list[dict]) -> str:
    """Render a recorder report as the SCALE.md measured-bytes table."""

    def mb(n: int) -> str:
        return f"{n / 1e6:,.1f}"

    lines = [
        "| phase | wall s | jobs | stages | input MB | output MB "
        "| shuffle read MB | shuffle write MB |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for p in phases:
        lines.append(
            f"| {p['phase']} | {p['wall_s']:.1f} | {p['n_jobs']} "
            f"| {p['n_stages']} | {mb(p['input_bytes'])} "
            f"| {mb(p['output_bytes'])} | {mb(p['shuffle_read_bytes'])} "
            f"| {mb(p['shuffle_write_bytes'])} |"
        )
    return "\n".join(lines)
