#!/usr/bin/env python3
"""Adversarial-density dedup soak (VERDICT r4 next-round item 1).

Generates a 1M-document corpus containing a 10⁵-member EXACT-duplicate
boilerplate group and a 10⁴-member pairwise NEAR-duplicate group
(`sources/corpus.adversarial_corpus`), then:

  phase 1  generate the corpus to parquet (distributed, deterministic)
  phase 2  lsh_bucket_stats over the RAW corpus — the measured pair
           counts the capped pipeline avoids (the "explosion by
           measurement" evidence)
  phase 3  the scale-safe pipeline END TO END, PACKAGED: spark-submit
           job.py --corpus-op dedup-verdicts over the corpus, with
           aggregate-RSS sampling; verify the exact expected cluster
           structure (2 giant clusters, exact keep count, full domain)
  phase 4  the naive UNCAPPED / NON-COLLAPSED construction (public
           operators: uncapped LSH pairs → connected components) on the
           same input under a wall-clock budget — expected NOT to complete
           (b²/2 ≈ 5×10⁹ pairs through one bucket key × 4 bands)

Results go to stdout as JSON lines; BENCH.md records the round-5 run.

Usage:  python scripts/soak_dedup.py [--n-total 1000000] [--budget 600]
        (run from the repo root; needs ~8 GB driver heap for phase 3/4)

Every phase runs Spark as ``local[N]`` with N = ``os.cpu_count()`` and N
shuffle partitions; the driver heap is ``$SPARK_DRIVER_MEMORY`` (default
8g, as ``get_spark``).  Work files go to ``$SOAK_WORK``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.environ.get("SOAK_WORK", "/root/tmpwork/dedup_soak")
CPUS = os.cpu_count() or 4
MASTER = f"local[{CPUS}]"
DRIVER_MEMORY = os.environ.get("SPARK_DRIVER_MEMORY", "8g")


def sample_rss_max(root_pid_box: dict, stop: threading.Event, out: dict):
    """Aggregate-RSS sampler scoped to OUR process tree: sums RSS of
    ``root_pid_box['pid']`` and all its descendants (spark-submit →
    JVM → Python workers) once per second, keeping the max. Tree-scoped
    rather than name-matched so external tenants' spark processes on
    this shared box can never inflate the evidence."""
    out["max_rss_gib"] = 0.0
    while not stop.is_set():
        try:
            root = root_pid_box.get("pid")
            if root:
                lines = subprocess.run(
                    ["ps", "-eo", "pid,ppid,rss"],
                    capture_output=True, text=True,
                ).stdout.splitlines()[1:]
                info = {}
                for ln in lines:
                    parts = ln.split()
                    if len(parts) == 3:
                        info[int(parts[0])] = (int(parts[1]), int(parts[2]))
                children: dict[int, list[int]] = {}
                for pid, (ppid, _) in info.items():
                    children.setdefault(ppid, []).append(pid)
                total_kib, frontier = 0, [root]
                while frontier:
                    pid = frontier.pop()
                    if pid in info:
                        total_kib += info[pid][1]
                    frontier.extend(children.get(pid, []))
                out["max_rss_gib"] = max(
                    out["max_rss_gib"], round(total_kib / 1024 / 1024, 2)
                )
        except Exception:
            pass
        stop.wait(1.0)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--n-total", type=int, default=1_000_000)
    p.add_argument("--n-exact", type=int, default=100_000)
    p.add_argument("--n-near", type=int, default=10_000)
    p.add_argument("--budget", type=int, default=600,
                   help="wall-clock budget (s) for the uncapped phase 4")
    p.add_argument("--skip-uncapped", action="store_true")
    args = p.parse_args()

    os.makedirs(WORK, exist_ok=True)
    corpus_path = f"{WORK}/corpus.parquet"
    out_path = f"{WORK}/verdicts.parquet"
    sys.path.insert(0, REPO)

    from jochre3_ocr_spark.plans.pipeline import get_spark

    # ---- phase 1: generate
    t0 = time.time()
    spark = get_spark("soak-gen", master=MASTER, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    from jochre3_ocr_spark.sources.corpus import adversarial_corpus

    adversarial_corpus(
        spark, args.n_total, args.n_exact, args.n_near
    ).write.mode("overwrite").parquet(corpus_path)
    print(json.dumps({
        "phase": "generate", "n_total": args.n_total,
        "n_exact": args.n_exact, "n_near": args.n_near,
        "sec": round(time.time() - t0, 1),
        "parquet_mb": round(sum(
            os.path.getsize(os.path.join(corpus_path, f))
            for f in os.listdir(corpus_path)
        ) / 1e6, 1),
    }), flush=True)

    # ---- phase 2: measured bucket stats on the RAW corpus (what an
    # uncapped, non-collapsed run would push through the band join)
    t0 = time.time()
    from jochre3_ocr_spark.operators.dedup import lsh_bucket_stats

    docs = spark.read.parquet(corpus_path)
    hot = lsh_bucket_stats(docs, max_bucket=64).agg(
        F.count("*").alias("n_hot"),
        F.max("bucket_size").alias("max_bucket_size"),
        F.sum("pairs_uncapped").alias("pairs_uncapped"),
        F.sum("pairs_capped").alias("pairs_capped"),
    ).collect()[0]
    print(json.dumps({
        "phase": "bucket_stats_raw",
        "hot_buckets": hot["n_hot"],
        "max_bucket_size": int(hot["max_bucket_size"]),
        "pairs_uncapped": int(hot["pairs_uncapped"]),
        "pairs_capped": int(hot["pairs_capped"]),
        "sec": round(time.time() - t0, 1),
    }), flush=True)
    spark.stop()

    # ---- phase 3: packaged scale-safe pipeline end to end.
    # Fresh zip under the reap-safe workdir: `zip -qr` UPDATES an
    # existing archive (stale deleted modules would ship), and /tmp is
    # reaped externally on this box (CLAUDE.md).
    engine_zip = f"{WORK}/engine.zip"
    if os.path.exists(engine_zip):
        os.remove(engine_zip)
    subprocess.run(
        ["zip", "-qr", engine_zip, "jochre3_ocr_spark"], cwd=REPO,
        check=True,
    )
    stop = threading.Event()
    rss: dict = {}
    pid_box: dict = {}
    sampler = threading.Thread(
        target=sample_rss_max, args=(pid_box, stop, rss), daemon=True
    )
    sampler.start()
    t0 = time.time()
    child = subprocess.Popen(
        [
            "spark-submit", "--master", MASTER,
            "--driver-memory", DRIVER_MEMORY, "--py-files", engine_zip,
            "job.py", "--corpus-op", "dedup-verdicts",
            "--input", corpus_path, "--output", out_path,
        ],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True,
    )
    pid_box["pid"] = child.pid
    out_s, err_s = child.communicate()
    proc = subprocess.CompletedProcess(
        child.args, child.returncode, out_s, err_s
    )
    wall = round(time.time() - t0, 1)
    stop.set()
    sampler.join()
    # spark-submit merges the python app's stderr into ITS stdout when
    # stderr is not a TTY — search both streams for both JSON lines
    all_lines = proc.stdout.splitlines() + proc.stderr.splitlines()
    job_line = [ln for ln in all_lines if ln.startswith("{\"corpus_op\"")]
    hot_line = [ln for ln in all_lines
                if ln.startswith("{\"dedup_hot_buckets\"")]
    print(json.dumps({
        "phase": "capped_packaged", "rc": proc.returncode, "sec": wall,
        "max_rss_gib": rss.get("max_rss_gib"),
        "job": json.loads(job_line[-1]) if job_line else None,
        "hot_report": json.loads(hot_line[-1]) if hot_line else None,
    }), flush=True)
    if proc.returncode != 0:
        print(proc.stderr[-3000:], file=sys.stderr)
        return 1

    # verify the exact expected structure
    spark = get_spark("soak-verify", master=MASTER, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    out = spark.read.parquet(out_path)
    big = {
        r["cluster_id"]: r["sz"]
        for r in out.groupBy("cluster_id")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > 1)
        .collect()
    }
    n_rows = out.count()
    n_keep = out.filter("keep").count()
    expected_keep = args.n_total - (args.n_exact - 1) - (args.n_near - 1)
    ok = (
        n_rows == args.n_total
        and n_keep == expected_keep
        and big == {"d0000000": args.n_exact,
                    f"d{args.n_exact:07d}": args.n_near}
    )
    print(json.dumps({
        "phase": "verify", "rows": n_rows, "keeps": n_keep,
        "expected_keeps": expected_keep,
        "multi_clusters": big, "structure_ok": ok,
    }), flush=True)
    spark.stop()
    if not ok:
        return 1

    # ---- phase 4: the naive uncapped / non-collapsed construction
    # under a budget — demonstrating WHY the defaults exist. Built from
    # public operators: uncapped LSH pairs over every doc → connected
    # components, each doc in no pair its own cluster.
    if args.skip_uncapped:
        return 0
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import functions as F\n"
        "from jochre3_ocr_spark.plans.pipeline import get_spark\n"
        "from jochre3_ocr_spark.operators.dedup import (\n"
        "    connected_components, minhash_lsh_candidates)\n"
        "spark = get_spark('soak-uncapped', master=%r,"
        " shuffle_partitions=%d)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "docs = spark.read.parquet(%r).select("
        "F.col('doc_id').cast('string').alias('doc_id'), 'text')\n"
        "labels = connected_components(\n"
        "    minhash_lsh_candidates(docs, max_bucket=None))\n"
        "out = docs.join(labels, 'doc_id', 'left').select(\n"
        "    'doc_id', F.coalesce('cluster_id', 'doc_id'))\n"
        "print('UNCAPPED_DONE', out.count())\n"
        % (REPO, MASTER, CPUS, corpus_path)
    )
    stop = threading.Event()
    rss_u: dict = {}
    pid_box_u: dict = {}
    sampler = threading.Thread(
        target=sample_rss_max, args=(pid_box_u, stop, rss_u), daemon=True
    )
    sampler.start()
    t0 = time.time()
    # own process group so a budget kill reaps the WHOLE Spark tree
    # (python driver + JVM + workers) without touching other sessions
    child = subprocess.Popen(
        [sys.executable, "-c", code], cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    pid_box_u["pid"] = child.pid
    try:
        out_s, err_s = child.communicate(timeout=args.budget)
        wall = round(time.time() - t0, 1)
        outcome = {
            "completed": "UNCAPPED_DONE" in out_s,
            "rc": child.returncode,
            "tail": err_s[-500:],
        }
    except subprocess.TimeoutExpired:
        wall = round(time.time() - t0, 1)
        outcome = {"completed": False, "killed_at_budget": True}
        import signal

        os.killpg(os.getpgid(child.pid), signal.SIGKILL)
        child.communicate()
    stop.set()
    sampler.join()
    print(json.dumps({
        "phase": "uncapped_budgeted", "budget_sec": args.budget,
        "sec": wall, "max_rss_gib": rss_u.get("max_rss_gib"),
        **outcome,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
