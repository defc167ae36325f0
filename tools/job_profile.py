#!/usr/bin/env python
"""Per-job/stage wall-clock breakdown for one registered query (guide §1:
measure first, empirically). The engine keeps the Spark UI off, so this
runs the query with the event log enabled and reads it with
plans/stage_metrics.read_event_log into the facts the Stages tab would
show: one line per job with wall time, and per stage its tasks, wall,
task time, shuffle read/write bytes and fetch wait.

Usage: python tools/job_profile.py <query> [sf_dir] [--runs N]
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 1
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1]) if "=" in a else int(sys.argv[sys.argv.index(a) + 1])
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"

    evdir = tempfile.mkdtemp(prefix="spark-events-")
    atexit.register(shutil.rmtree, evdir, True)
    from orion_spark.plans.stage_metrics import PLAIN_EVENT_LOG, read_event_log
    from orion_spark.session import autoscale_shuffle, get_spark

    spark = get_spark(
        app_name=f"profile-{name}",
        extra_conf={**PLAIN_EVENT_LOG, "spark.eventLog.dir": evdir},
    )
    spark.sparkContext.setLogLevel("ERROR")
    autoscale_shuffle(spark, sf_dir)

    from orion_spark.plans.queries import QUERIES

    fn = QUERIES[name]
    # warmup at sf0.001 so JIT/codegen cache is hot (bench methodology)
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm) and warm != sf_dir:
        try:
            fn(spark, warm).write.format("noop").mode("overwrite").save()
        except Exception:
            pass
        spark.catalog.clearCache()

    walls = []
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"measured:{name}:run{i}")
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    jobs, stages = read_event_log(os.path.join(evdir, app_id))

    for i, w in enumerate(walls):
        print(f"run {i}: wall {w:.2f}s")
    measured = {
        jid: j
        for jid, j in jobs.items()
        if j["desc"].startswith("measured:") and j["end"] is not None
    }
    total = sum(j["end"] - j["start"] for j in measured.values()) / 1000.0
    print(f"\n{len(measured)} measured jobs, job-wall total {total:.2f}s")
    for jid in sorted(measured):
        j = measured[jid]
        wall = (j["end"] - j["start"]) / 1000.0
        print(f"\njob {jid}  wall {wall:6.2f}s  ({j['desc'].split(':')[-1]})")
        for s in sorted(j["stages"]):
            st = stages.get(s)
            if not st or not st["tasks"]:
                continue  # skipped: never submitted, never completed
            print(
                f"   stage {s:4d} {st['tasks']:5d} tasks"
                f" wall {st['wall_s']:6.2f}s task-time {st['task_ms']/1000.0:7.1f}s"
                f" shR {st['shuffle_read_bytes']/1e6:8.1f}MB"
                f" shW {st['shuffle_write_bytes']/1e6:8.1f}MB"
                f" fetchWait {st['fetch_wait_ms']/1000.0:5.1f}s  {st['name'][:60]}"
            )


if __name__ == "__main__":
    main()
