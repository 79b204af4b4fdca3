#!/usr/bin/env python3
"""Seeded end-to-end benchmark of jochre3_ocr_spark, with a traced
per-layer split.

    python3 perfbench/run.py --workload extract_job --seed 42 --seconds 10
    python3 perfbench/run.py --workload all                # each in its own process
    python3 perfbench/run.py --workload dedup_adversarial --trace 1
    python3 perfbench/run.py --compare RESULTS_BASE RESULTS_HEAD

One run is one fresh driver process on ``local[nproc]``: start the Spark
session, build the seeded input several times (set-up), run two warm-up
repetitions, then repeat the workload's entry point in a closed loop (one
job at a time) for ``--seconds``.  Every repetition's output is checked.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` (docs) and ``metrics`` -- the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  A traced run interleaves untraced and traced repetitions;
``trace.overhead_frac`` is the loss of docs/s between them.  A full
record of each run (per-repetition walls, spans, load evidence) is
written under ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC_PATH = os.path.join(REPO, "BENCHMARK.json")
WORKLOADS = ("extract_job", "extract_giants", "dedup_adversarial")

#: set-up is repeated this many times per run and its median reported
SETUPS = 3
#: a traced run times at least this many untraced and as many traced
#: repetitions, in the order U T T U U T ... so that a drift over the run
#: (late JIT warm-up) falls on both kinds alike
TRACE_MIN_REPS = 2
#: driver heap, committed and touched at JVM start: the workloads peak
#: well under it, and a pre-touched heap keeps GC heap sizing (which
#: varies from run to run) out of ``peak_rss_gib``, so that the metric
#: moves with off-heap and Python-worker memory
DRIVER_MEMORY = "3g"


def _spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def _configure_environment(work: str) -> None:
    """Before the JVM starts: keep every file Spark, the JVM and the Python
    workers write under ``work``, keep the UI on the loopback interface,
    and put the repository on the workers' import path (so the benchmark
    runs from any working directory)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    tempfile.tempdir = tmp
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(path),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options '" + " ".join([
                f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                f"-Xms{DRIVER_MEMORY}", "-XX:+AlwaysPreTouch",
            ]) + "'",
            "--conf spark.driver.host=127.0.0.1",
            "--conf spark.driver.bindAddress=127.0.0.1",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]),
    })


def _stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the Python workers the
    JVM forked, and wait until every one of them has exited."""
    from pyspark import SparkContext
    from spark_trace import process_tree

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def _dir_bytes(path: str) -> int:
    """Bytes of the data files a writer committed (no checksums/markers)."""
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    )


def run_workload(name: str, seed: int, seconds: float, trace: bool, out_dir: str) -> dict:
    import workloads
    from jochre3_ocr_spark.plans import pipeline
    from spark_trace import RssSampler, Tracer, median_layers

    nproc = len(os.sched_getaffinity(0))
    record = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "nproc": nproc, "load_1m_before": os.getloadavg()[0],
        "started_at": time.time(),
    }
    work = os.path.join(HERE, "work", f"{name}-{os.getpid()}")
    _configure_environment(work)
    wl = workloads.make(name, seed)
    docs = wl.sizes["docs"]
    spark = None
    try:
        with RssSampler(os.getpid()) as rss:
            t0 = time.perf_counter()
            spark = pipeline.get_spark(
                f"perfbench-{name}", master=f"local[{nproc}]", shuffle_partitions=nproc
            )
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0

            setup_s = []
            for _ in range(SETUPS):
                t0 = time.perf_counter()
                input_path = wl.setup(spark, work)
                setup_s.append(time.perf_counter() - t0)
            kernel = wl.kernel_sample(spark, input_path)
            tracer = Tracer(spark, nproc) if trace else None

            reps: list[dict] = []

            def repetition(traced: bool) -> None:
                out = os.path.join(work, f"out{len(reps)}")
                rep = {"index": len(reps), "traced": traced}
                if traced:
                    tr = tracer.run(
                        len(reps), lambda: wl.call(spark, input_path, out), *wl.split
                    )
                    rep.update(wall_s=tr["wall_s"], layer=tr["layer"], spans=tr["spans"])
                else:
                    t0 = time.perf_counter()
                    wl.call(spark, input_path, out)
                    rep["wall_s"] = time.perf_counter() - t0
                rep["out_bytes"] = _dir_bytes(out)
                check = wl.check(spark, out)
                rep.update(failed=len(check.failed_ids), digest=check.digest,
                           check=check.details,
                           failed_sample=sorted(check.failed_ids)[:10])
                shutil.rmtree(out, ignore_errors=True)
                reps.append(rep)

            for _ in range(wl.warmup_reps):
                repetition(False)
                reps[-1]["warmup"] = True
            loop_start = time.perf_counter()
            while True:
                timed = [r for r in reps[wl.warmup_reps:] if not r["traced"]]
                traced = [r for r in reps[wl.warmup_reps:] if r["traced"]]
                if trace:
                    enough = min(len(timed), len(traced)) >= TRACE_MIN_REPS
                else:
                    enough = bool(timed)
                if enough and time.perf_counter() - loop_start >= seconds:
                    break
                repetition(trace and (len(reps) - wl.warmup_reps) % 4 in (1, 2))
            loop_s = time.perf_counter() - loop_start
        peak_rss = rss.peak_bytes
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    digests = {r["digest"] for r in reps}
    failed = sum(r["failed"] for r in reps)
    if len(digests) > 1:  # outputs differ between repetitions
        first = reps[0]["digest"]
        failed += sum(docs for r in reps if r["digest"] != first)
    attempted = docs * len(reps)
    walls = [r["wall_s"] for r in reps[wl.warmup_reps:] if not r["traced"]]
    docs_per_s = docs / statistics.median(walls)
    end_to_end = {
        "docs_per_s": docs_per_s,
        "setup_s": session_s + statistics.median(setup_s),
        "peak_rss_gib": peak_rss / (1 << 30),
        "out_bytes_per_doc": statistics.median(r["out_bytes"] for r in reps) / docs,
        "ok_frac": 1.0 - failed / attempted,
    }
    layers = {}
    if trace:
        traces = [r for r in reps[wl.warmup_reps:] if r["traced"]]
        layers = median_layers(traces)
        python_s = layers["udf.python_run_s"]
        traced_dps = docs / statistics.median(r["wall_s"] for r in traces)
        layers.update({
            "operators.kernel.ms_per_doc": kernel["ms_per_doc"],
            "operators.kernel.share": (
                kernel["ms_per_doc"] * docs / 1e3 / python_s if python_s else 0.0
            ),
            "sources.generate_s": statistics.median(setup_s),
            "trace.docs_per_s": traced_dps,
            "trace.overhead_frac": 1.0 - traced_dps / docs_per_s,
        })
    record.update({
        "load_1m_after": os.getloadavg()[0],
        "sizes": wl.sizes,
        "session_s": session_s,
        "setup_runs_s": setup_s,
        "kernel_sample": kernel,
        "loop_s": loop_s,
        "failed_frac": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": end_to_end,
        "per_layer": layers,
        "repetitions": reps,
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}-s{seed}-t{int(trace)}-{time.time_ns()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    record["result_file"] = path
    return record


def _contract_line(rec: dict, trace: bool) -> dict:
    declared = _spec()["per_layer" if trace else "end_to_end"]
    values = rec["per_layer"] if trace else rec["end_to_end"]
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in declared
        },
    }


def _print_record(rec: dict, trace: bool) -> None:
    spec = _spec()
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    values = rec["per_layer"] if trace else rec["end_to_end"]
    print(f"# {rec['workload']} seed={rec['seed']} nproc={rec['nproc']} "
          f"load_1m={rec['load_1m_before']:.2f}->{rec['load_1m_after']:.2f} "
          f"reps={len(rec['repetitions'])} -> {rec['result_file']}")
    for m in declared:
        print(f"{rec['workload']:18s} {m['name']:28s} {values[m['name']]:>14.6g} {m['unit']}")
    if not trace:
        print(f"{rec['workload']:18s} {'failed_frac':28s} {rec['failed_frac']:>14.6g} frac")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=(*WORKLOADS, "all"), default="all")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=os.path.join(HERE, "results"),
                   help="directory for the per-run result files")
    p.add_argument("--compare", nargs=2, metavar=("BASE_DIR", "HEAD_DIR"),
                   help="compare two directories of result files and exit")
    args = p.parse_args(argv)

    if args.compare:
        import compare

        return compare.main(*args.compare, _spec())

    if args.workload != "all":
        sys.path[:0] = [REPO, HERE]
        rec = run_workload(args.workload, args.seed, args.seconds,
                           bool(args.trace), args.out)
        _print_record(rec, bool(args.trace))
        print(json.dumps(_contract_line(rec, bool(args.trace))))
        return 0

    # every workload in a fresh driver process (and JVM) of its own: one
    # JVM running them back to back inflates the later ones
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--out", args.out]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"{name} failed with exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode
        *lines, last = proc.stdout.strip().splitlines()
        print("\n".join(lines), flush=True)
        child = json.loads(last)
        merged["correct"] = merged["correct"] and child["correct"]
        merged["attempted"] += child["attempted"]
        merged["failed"] += child["failed"]
        merged["metrics"].update(
            {f"{name}.{k}": v for k, v in child["metrics"].items()}
        )
    print(json.dumps(merged))
    return 0


if __name__ == "__main__":
    sys.exit(main())
