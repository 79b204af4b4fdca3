"""Per-layer measurement from outside the package.

* :class:`RssSampler` sums the resident set of this process and all of its
  descendants (the driver JVM and the Python workers it forks), so other
  processes on the machine cannot inflate the figure.
* :class:`Tracer` runs one repetition with its Spark jobs labelled per
  phase (``setJobGroup`` on the calling thread) and a module-level function
  wrapped so that its return marks the end of query construction.  After
  the repetition it reads the stage and SQL-node metrics of exactly those
  jobs from the driver's status tracker and the local Spark REST API, and
  returns the span tree ``repetition -> construct / exec -> stages`` with
  self-times plus the per-layer counters.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone


def process_tree(root: int) -> dict[int, int]:
    """Resident set size in bytes of ``root`` and each of its descendants,
    by pid."""
    page = os.sysconf("SC_PAGE_SIZE")
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listdir and open
        # the command name may contain spaces: fields follow the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        pid = int(name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * page
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        tree[pid] = rss.get(pid, 0)
        frontier.extend(children.get(pid, ()))
    return tree


class RssSampler:
    """Peak summed RSS of a process tree, sampled on a daemon thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        while not self._stop.is_set():
            self.peak_bytes = max(
                self.peak_bytes, sum(process_tree(self.root_pid).values())
            )
            self._stop.wait(self.interval_s)


# ------------------------------------------------------------ REST access
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(value: str) -> float:
    """A SQL-node metric as the UI prints it -> bytes, seconds or a count.

    Per-task metrics print as ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first figure of the second line."""
    text = value.split("\n", 1)[1] if value.startswith("total") else value
    m = _METRIC_RE.match(text)
    if not m:
        raise ValueError(f"unparsed SQL metric: {value!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    if unit:
        raise ValueError(f"unknown unit in SQL metric: {value!r}")
    return number


def _epoch_s(stamp: str) -> float:
    # the REST API prints "2026-10-16T17:54:58.103GMT"
    return (
        datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class SparkRest:
    """The driver's monitoring REST API on the loopback interface."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)


# ------------------------------------------------------------------ tracer
PYTHON_METRICS = {
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
    "number of output rows": "udf.rows_from_python",
    "time to run Python workers": "udf.python_run_s",
    "time to start Python workers": "udf.python_start_s",
    "time to initialize Python workers": "udf.python_start_s",
}


def _union_length(intervals, lo: float, hi: float) -> float:
    covered, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


class Tracer:
    """Traced repetitions: phase labels, the construct/exec split, and the
    Spark stage / SQL-node metrics of the jobs each repetition launched."""

    PHASES = ("construct", "exec")

    def __init__(self, spark, slots: int):
        self.sc = spark.sparkContext
        self.rest = SparkRest(self.sc)
        self.slots = slots
        self._sql_seen = len(self.rest.get("/sql?details=false&length=100000"))

    def run(self, rep: int, call, split_module, split_name: str) -> dict:
        """Run ``call()`` traced.  ``split_module.split_name`` is wrapped for
        the duration: its return ends the construct phase (the entry point
        has built its query) and starts the exec phase (the sink)."""
        groups = {p: f"perfbench.rep{rep}.{p}" for p in self.PHASES}
        original = getattr(split_module, split_name)
        marks: dict[str, float] = {}

        def split_at_return(*args, **kwargs):
            result = original(*args, **kwargs)
            marks["split"] = time.time()
            self.sc.setJobGroup(groups["exec"], "perfbench exec")
            return result

        setattr(split_module, split_name, split_at_return)
        self.sc.setJobGroup(groups["construct"], "perfbench construct")
        start = time.time()
        try:
            call()
        finally:
            end = time.time()
            setattr(split_module, split_name, original)
            self.sc.setJobGroup("perfbench.untraced", "perfbench untraced")
        if "split" not in marks:
            raise RuntimeError(
                f"{split_name} was never called: the construct/exec split "
                "is undefined for this entry point"
            )
        bounds = {
            "construct": (start, marks["split"]),
            "exec": (marks["split"], end),
        }
        return self._collect(groups, bounds, start, end)

    # ---------------------------------------------------------- collection
    def _settled_jobs(self, groups) -> dict[str, list[int]]:
        """Job ids per phase once every job and stage is recorded as done
        (the status store is fed asynchronously by the listener bus)."""
        tracker = self.sc.statusTracker()
        deadline = time.time() + 30
        while True:
            jobs = {
                p: sorted(tracker.getJobIdsForGroup(g)) for p, g in groups.items()
            }
            infos = [tracker.getJobInfo(j) for js in jobs.values() for j in js]
            if all(i is not None and i.status == "SUCCEEDED" for i in infos):
                return jobs
            if time.time() > deadline:
                raise RuntimeError(f"jobs did not settle: {jobs}")
            time.sleep(0.05)

    def _stages(self, job_ids: list[int]) -> list[dict]:
        tracker = self.sc.statusTracker()
        wanted = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
        deadline = time.time() + 30
        while True:
            rows = [
                s
                for s in self.rest.get("/stages")
                if s["stageId"] in wanted and s["status"] != "SKIPPED"
            ]
            if all(s["status"] == "COMPLETE" for s in rows):
                return rows
            if time.time() > deadline:
                raise RuntimeError("stages did not complete in the status store")
            time.sleep(0.05)

    def _python_nodes(self, job_ids: set[int]) -> dict[str, float]:
        deadline = time.time() + 30
        while True:
            execs = self.rest.get(
                f"/sql?details=true&planDescription=false"
                f"&offset={self._sql_seen}&length=100000"
            )
            mine = [
                e
                for e in execs
                if job_ids & set(e["successJobIds"] + e["runningJobIds"] + e["failedJobIds"])
            ]
            if all(e["status"] == "COMPLETED" for e in mine):
                break
            if time.time() > deadline:
                raise RuntimeError("SQL executions did not complete")
            time.sleep(0.05)
        self._sql_seen += len(execs)
        out = {name: 0.0 for name in PYTHON_METRICS.values()}
        out["udf.python_nodes"] = 0
        for e in mine:
            for node in e["nodes"]:
                metrics = {m["name"]: m["value"] for m in node.get("metrics", ())}
                if "data sent to Python workers" not in metrics:
                    continue
                out["udf.python_nodes"] += 1
                for src, dst in PYTHON_METRICS.items():
                    if src in metrics:
                        out[dst] += parse_sql_metric(metrics[src])
        return out

    def _task_skew(self, stages: list[dict]) -> float:
        """Max over multi-task stages of (slowest task ÷ median task)."""
        worst = 1.0
        for s in stages:
            if s["numCompleteTasks"] < 2:
                continue
            q = self.rest.get(
                f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0"
            )["executorRunTime"]
            if q[0] > 0:
                worst = max(worst, q[1] / q[0])
        return worst

    def _collect(self, groups, bounds, start: float, end: float) -> dict:
        jobs = self._settled_jobs(groups)
        all_jobs = [j for js in jobs.values() for j in js]
        stages = self._stages(all_jobs)
        by_id = {s["stageId"]: s for s in stages}
        tracker = self.sc.statusTracker()
        wall = end - start
        spans = [{"name": "repetition", "parent": None, "start": start,
                  "end": end}]
        layer: dict[str, float] = {}
        for phase in self.PHASES:
            lo, hi = bounds[phase]
            stage_ids = sorted(
                {s for j in jobs[phase] for s in tracker.getJobInfo(j).stageIds}
                & by_id.keys()
            )
            intervals = []
            for sid in stage_ids:
                s = by_id[sid]
                a = _epoch_s(s["submissionTime"])
                b = _epoch_s(s["completionTime"])
                intervals.append((a, b))
                spans.append({
                    "name": f"stage {sid}: {s['name'][:60]}",
                    "parent": phase, "start": a, "end": b,
                    "self_s": b - a, "tasks": s["numCompleteTasks"],
                })
            busy = _union_length(intervals, lo, hi)
            spans.append({"name": phase, "parent": "repetition", "start": lo,
                          "end": hi, "self_s": (hi - lo) - busy,
                          "jobs": len(jobs[phase])})
            layer[f"plans.{phase}_s"] = hi - lo
            layer[f"plans.{phase}_jobs"] = len(jobs[phase])
            layer[f"plans.{phase}_driver_s"] = (hi - lo) - busy
        spans[0]["self_s"] = wall - layer["plans.construct_s"] - layer["plans.exec_s"]
        layer["plans.accounted_frac"] = (
            layer["plans.construct_s"] + layer["plans.exec_s"]
        ) / wall

        def total(key):
            return float(sum(s[key] for s in stages))

        run_s = total("executorRunTime") / 1e3
        layer.update({
            "spark.stages": len(stages),
            "spark.tasks": int(total("numCompleteTasks")),
            "spark.run_s": run_s,
            "spark.cpu_s": total("executorCpuTime") / 1e9,
            "spark.gc_s": total("jvmGcTime") / 1e3,
            "spark.busy_frac": run_s / (wall * self.slots),
            "spark.task_skew": self._task_skew(stages),
            "spark.shuffle_write_bytes": total("shuffleWriteBytes"),
            "spark.shuffle_read_bytes": total("shuffleReadBytes"),
            "spark.spill_bytes": total("diskBytesSpilled"),
            "sources.scan_bytes": total("inputBytes"),
            "sources.scan_records": total("inputRecords"),
            "plans.write_bytes": total("outputBytes"),
            "plans.write_records": total("outputRecords"),
        })
        layer.update(self._python_nodes(set(all_jobs)))
        return {"wall_s": wall, "layer": layer, "spans": spans}


def median_layers(traces: list[dict]) -> dict[str, float]:
    """Per-metric median over the traced repetitions of one run."""
    keys = traces[0]["layer"].keys()
    return {
        k: float(statistics.median(t["layer"][k] for t in traces)) for k in keys
    }
