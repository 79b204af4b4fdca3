#!/usr/bin/env python3
"""Per-task timeline of one warm repetition of a perfbench workload.

    python scripts/task_timeline.py --workload extract_job --seed 42

Builds the workload's seeded input and runs its warm-up repetitions the
way ``perfbench/run.py`` does (fresh ``local[nproc]`` session, same
driver heap), then runs one more repetition with its Spark jobs in a job
group of their own.  Prints one line per task of those jobs, in launch
order: stage, task index, launch time and end time in seconds from the
start of the repetition, and the task's duration.  Shows where a stage
waits for a free slot and which task ends it.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO, "perfbench")
GROUP = "task_timeline"

sys.path[:0] = [REPO, PERFBENCH]
import run  # noqa: E402  (perfbench/run.py)
import workloads  # noqa: E402
from jochre3_ocr_spark.plans import pipeline  # noqa: E402
from spark_trace import SparkRest, _epoch_s  # noqa: E402


def _tasks(spark, rest) -> list[dict]:
    """Every task of the group's jobs, once the status store has them all
    (it is fed asynchronously by the listener bus)."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + 30
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(GROUP)]
        stage_ids = {s for i in infos if i is not None for s in i.stageIds}
        attempts = [
            a
            for sid in sorted(stage_ids)
            for a in rest.get(f"/stages/{sid}")
            if a["status"] != "SKIPPED"
        ]
        if all(i is not None and i.status == "SUCCEEDED" for i in infos) and all(
            a["status"] == "COMPLETE" for a in attempts
        ):
            break
        if time.time() > deadline:
            raise RuntimeError("jobs did not settle in the status store")
        time.sleep(0.05)
    tasks = []
    for a in attempts:
        for t in rest.get(
            f"/stages/{a['stageId']}/{a['attemptId']}/taskList?length=100000"
        ):
            start = _epoch_s(t["launchTime"])
            tasks.append({
                "stage": a["stageId"],
                "name": a["name"],
                "index": t["index"],
                "start": start,
                "end": start + t["duration"] / 1e3,
            })
    return sorted(tasks, key=lambda t: (t["start"], t["stage"], t["index"]))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args(argv)

    work = tempfile.mkdtemp(prefix="task_timeline-")
    run._configure_environment(work)
    nproc = len(os.sched_getaffinity(0))
    wl = workloads.make(args.workload, args.seed)
    spark = None
    try:
        spark = pipeline.get_spark(
            "task-timeline", master=f"local[{nproc}]", shuffle_partitions=nproc
        )
        spark.sparkContext.setLogLevel("ERROR")
        input_path = wl.setup(spark, work)
        for i in range(wl.warmup_reps):
            wl.call(spark, input_path, os.path.join(work, f"warmup{i}"))
        out = os.path.join(work, "out")
        spark.sparkContext.setJobGroup(GROUP, "task timeline")
        t0 = time.time()
        wl.call(spark, input_path, out)
        wall = time.time() - t0
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        tasks = _tasks(spark, SparkRest(spark.sparkContext))
    finally:
        if spark is not None:
            run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} nproc={nproc} "
          f"wall={wall:.3f}s tasks={len(tasks)}")
    print(f"{'stage':>5} {'task':>4} {'launch_s':>8} {'end_s':>7} {'dur_s':>6}  name")
    for t in tasks:
        print(f"{t['stage']:>5} {t['index']:>4} {t['start'] - t0:>8.3f} "
              f"{t['end'] - t0:>7.3f} {t['end'] - t['start']:>6.3f}  {t['name'][:50]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
