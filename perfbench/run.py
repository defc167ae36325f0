#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload kgx_build --seed 1 --seconds 10 --trace 0

One process, one driver thread, `local[nproc]`, closed loop: each
operation starts when the previous one has finished. The run

1. sets up: generates the base tables, starts the Spark session and
   derives the workload's inputs from the seed (`setup_s` ends here);
2. runs one timed pass, the session's first, as a batch job does;
3. checks the pass's outputs (DuckDB oracles, bundle recount), untimed;
4. prints one JSON line with the whole record, then the summary line
   `{"correct", "attempted", "failed", "metrics"}`.

The pass lasts longer than any `--seconds` the benchmark is run with, so
a run measures one pass whatever `--seconds` says.

With `--trace 0` the metrics are the end-to-end ones, measured with
tracing off. With `--trace 1` the pass records spans and Spark job
groups with the event log on, and the per-layer metrics come from them
and the event log.

Everything the run writes lives under `.perfbench/` in the checkout; its
scratch directory is removed at exit and the record is kept in
`.perfbench/results/`.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("kgx_build", "curation")
# base-table scale per workload: the largest that keeps a run inside the
# time the benchmark gives it on a 4-CPU machine
SCALE = {"kgx_build": 0.005, "curation": 0.003}
END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def _age_at_t0() -> float:
    """Seconds between this process's start and `T0` (10 ms resolution):
    interpreter start-up, which `setup_s` includes."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK") - (time.perf_counter() - T0)


def _source_digest() -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, "orion_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _start_spark(work: str, nproc: int, trace: bool):
    from orion_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap committed and touched at start, so resident
        # memory does not track when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch"
        f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit. The
    JVM stops its Python workers as the context shuts down."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def run(args, work: str) -> dict:
    from perfbench import data, procstat, tracing, workloads

    nproc = len(os.sched_getaffinity(0))
    offset = _age_at_t0()
    scale = args.scale or SCALE[args.workload]
    data_dir = os.path.join(work, "data")
    parts = {"interpreter_s": offset}
    t = time.perf_counter()
    input_bytes = data.generate(data_dir, scale)
    parts["generate_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark = _start_spark(work, nproc, bool(args.trace))
    parts["session_s"] = time.perf_counter() - t
    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "scale": scale,
        "stamp": {
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "input_bytes": input_bytes,
            "commit": _commit(),
            "source_digest": _source_digest(),
        },
    }
    try:
        wl = workloads.make(args.workload, spark, data_dir, work, args.seed)
        t = time.perf_counter()
        wl.setup()
        parts["derive_s"] = time.perf_counter() - t
        record["setup_s"] = offset + time.perf_counter() - T0
        record["setup_parts"] = parts

        tracer = tracing.Tracer(sc) if args.trace else tracing.NullTracer()
        cpu0 = procstat.tree_cpu_s(jvm)
        with procstat.PeakRss(jvm) as rss:
            t = time.perf_counter()
            with tracer.span("pass"):
                log = wl.run_pass(tracer)
            record["run_s"] = time.perf_counter() - t
        record["cpu_s"] = procstat.tree_cpu_s(jvm) - cpu0
        record["peak_rss_mb"] = rss.peak_mb
        t = time.perf_counter()
        log.failures.update(wl.check())
        record["check_s"] = time.perf_counter() - t
        record["output_mb"] = wl.output_bytes() / 2**20
        record["bundle_digest"] = wl.digest
    finally:
        _stop_spark(spark)

    record["wall_s"] = offset + time.perf_counter() - T0
    record["op_s"], record["failures"] = log.op_s, log.failures
    record["attempted"], record["failed"] = len(log.op_s), len(log.failures)
    record["failed_frac"] = record["failed"] / record["attempted"]
    if args.trace:
        (event_log,) = [
            os.path.join(work, "eventlog", f) for f in os.listdir(os.path.join(work, "eventlog"))
        ]
        group_jobs, job_tasks = tracing.read_event_log(event_log)
        layer = tracing.pass_layer_metrics(tracer.spans, group_jobs, job_tasks)
        layer["trace.overhead_s"] = tracer.overhead_s
        record["per_layer"] = layer
        record["spans"] = tracer.spans
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's base-table scale factor")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "orion_spark", "__init__.py")):
        print(f"perfbench: no engine sources at {ROOT}/orion_spark", file=sys.stderr)
        return 2
    # import the engine and this package from the checkout root
    sys.path[0] = ROOT
    from perfbench.tracing import per_layer_units

    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d))
    # hermetic: the run's own temp dirs, and no caller knobs that would
    # change the engine's shuffle sizing or heap
    for knob in ("SPARK_GRAFT_SF_DIR", "ORION_SPARK_SHUFFLE_PARTITIONS",
                 "ORION_SPARK_DRIVER_MEM", "SPARK_MASTER"):
        os.environ.pop(knob, None)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    spans = record.pop("spans", None)
    if spans is not None:
        record["spans_file"] = os.path.join(results, name + ".spans.json")
        with open(record["spans_file"], "w") as fh:
            json.dump([vars(s) for s in spans], fh)
    with open(os.path.join(results, name + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)

    if args.trace:
        units = per_layer_units()
        values = record["per_layer"]
    else:
        units = END_TO_END_UNITS
        values = record
    print(json.dumps({"perfbench": record}))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
