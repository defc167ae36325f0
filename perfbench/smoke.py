#!/usr/bin/env python3
"""Smoke test of the benchmark itself: each workload for one pass on the
smallest base tables (scale factor 0.001), untraced and traced.

    python3 perfbench/smoke.py [workload ...]

Checks that every run exits 0 with all outputs correct, that it emits
every metric BENCHMARK.json names for its mode with that metric's unit,
and that in the traced run each pass's top-level spans account for the
pass's wall time. Exits with a message at the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("kgx_build", "curation")
# untimed gap allowed between a pass's start and its first operation,
# between operations, and after the last one
SPAN_GAP = 0.02


def _require(ok: bool, message: str) -> None:
    if not ok:
        raise SystemExit(f"FAIL {message}")


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "0",
        "--trace", str(trace), "--scale", "0.001",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    _require(proc.returncode == 0,
             f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().split("\n")
    return json.loads(lines[-2])["perfbench"], json.loads(lines[-1])


def _check_spans(path: str) -> None:
    with open(path) as fh:
        spans = json.load(fh)
    passes = [s for s in spans if s["parent"] is None]
    _require(bool(passes), "no pass spans recorded")
    for p in passes:
        wall = p["end"] - p["start"]
        covered = sum(s["end"] - s["start"] for s in spans if s["parent"] == p["id"])
        gap = wall - covered
        _require(gap <= SPAN_GAP * wall,
                 f"pass {p['pass_id']}: top-level spans cover {covered:.3f} of {wall:.3f} s")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    wanted = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for workload in argv or WORKLOADS:
        for trace in (0, 1):
            record, summary = _run(workload, trace)
            label = f"{workload} trace={trace}"
            _require(summary["correct"] and summary["failed"] == 0,
                     f"{label}: failures {record['failures']}")
            for m in wanted[trace]:
                got = summary["metrics"].get(m["name"])
                _require(got is not None, f"{label}: metric {m['name']} missing")
                _require(got["unit"] == m["unit"], f"{label}: {m['name']} unit {got['unit']}")
            if trace:
                _check_spans(record["spans_file"])
            print(f"ok  {label}  attempted {summary['attempted']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
