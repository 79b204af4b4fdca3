#!/usr/bin/env python3
"""Time ``dedup.connected_components`` on three pair tables above the
driver union-find cap (``_CC_DRIVER_MAX_PAIRS``), so they take the
distributed route.

    python scripts/cc_routes.py [--work DIR]

Shapes (all ids are strings, written once as parquet under ``--work``
and reused by later runs):

* ``cliques`` — 3 000 near-cliques of 12 nodes, each of a clique's 66
  pairs kept with probability 2/3 (seeded): 131 890 pairs;
* ``buckets`` — 400 capped buckets: 16 heads joined pairwise and 284
  tails each linked to the bucket's first head: 161 600 pairs;
* ``chains`` — 30 paths of 5 000 nodes: 149 970 pairs.

Spark runs as ``local[N]`` with N = ``os.cpu_count()``.  Each of the
``REPS`` repetitions runs the three shapes in turn.  Per shape, one JSON
line on stdout: the median and all seconds of ``connected_components``
plus the digest action that materializes it, the Spark job count of
each repetition (status tracker, one job group per run) and the label
digest ``count(*)`` / ``bit_xor(xxhash64(doc_id, cluster_id))``, which
must match across revisions.

Run it from the root of the checkout under test: Spark's Python workers
put their working directory first on ``sys.path``, so a run started
elsewhere would import another copy of the package.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHAPES = ("cliques", "buckets", "chains")
REPS = 3


def _pairs(shape: str) -> list[tuple[str, str]]:
    if shape == "cliques":
        rng = random.Random(42)
        return [
            (f"k{c:04d}_{i:02d}", f"k{c:04d}_{j:02d}")
            for c in range(3000)
            for i in range(12)
            for j in range(i)
            if rng.random() < 2 / 3
        ]
    if shape == "buckets":
        out = []
        for b in range(400):
            heads = [f"b{b:03d}_h{i:02d}" for i in range(16)]
            out += [(heads[i], heads[j]) for i in range(16) for j in range(i)]
            out += [(f"b{b:03d}_t{t:03d}", heads[0]) for t in range(284)]
        return out
    return [  # chains
        (f"c{c:02d}_{i:04d}", f"c{c:02d}_{i + 1:04d}")
        for c in range(30)
        for i in range(4999)
    ]


def _write(spark, work: str, shape: str) -> str:
    import pandas as pd

    path = os.path.join(work, f"{shape}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pdf = pd.DataFrame(_pairs(shape), columns=["doc1", "doc2"])
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return path


def _run(spark, pairs, group: str) -> tuple[float, int, int, int]:
    """(seconds, jobs, label count, label xor) of one resolution."""
    from pyspark.sql import functions as F

    from jochre3_ocr_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    n, h = connected_components(pairs).agg(
        F.count("*"), F.bit_xor(F.xxhash64("doc_id", "cluster_id"))
    ).collect()[0]
    sec = time.perf_counter() - t0
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return sec, jobs, n, h


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--work", default="cc_routes_work")
    args = p.parse_args()

    from jochre3_ocr_spark.plans.pipeline import get_spark

    cpus = os.cpu_count() or 4
    spark = get_spark(
        "cc-routes", master=f"local[{cpus}]", shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.work, exist_ok=True)
    paths = {s: _write(spark, args.work, s) for s in SHAPES}
    # warm-up: JVM code paths and the first Python worker, untimed
    _run(spark, spark.createDataFrame([("a", "b")], "doc1 string, doc2 string"),
         "warmup")

    runs: dict[str, list] = {s: [] for s in SHAPES}
    for rep in range(REPS):
        for s in SHAPES:
            runs[s].append(
                _run(spark, spark.read.parquet(paths[s]), f"{s}-{rep}")
            )
    for s in SHAPES:
        digests = {(n, h) for _, _, n, h in runs[s]}
        if len(digests) != 1:
            raise SystemExit(f"{s}: label digest differs between runs")
        (n, h), = digests
        print(json.dumps({
            "shape": s,
            "pairs": spark.read.parquet(paths[s]).count(),
            "sec_median": round(statistics.median(r[0] for r in runs[s]), 2),
            "secs": [round(r[0], 2) for r in runs[s]],
            "jobs": [r[1] for r in runs[s]],
            "labels": n,
            "xor": h,
        }), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
