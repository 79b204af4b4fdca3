#!/usr/bin/env python3
"""SemDeDup macro drive: packaged `job.py --corpus-op semantic-dedup`
over 1M synthetic embeddings at two parallelism levels.

Scenario: 1 000 000 16-dim embeddings — 10 designed semantic-duplicate
families of 1 000 members each (within-family cosine ≥ 0.9999) spread
evenly through the id space, the other 990 000 pseudo-random
directions (pair cosines concentrate near 0).  k-means(64) cells,
eps 0.95, the vectorized per-cell gram backend.

Verification:
  * determinism — identical (vec_id, cluster_id, keep) sets between
    the local[2] and local[8] runs (full DuckDB anti-join);
  * group recovery — each designed family resolves to ONE cluster
    whose keeper is its minimum vec_id and whose member count is
    exactly 1 000 (accidental random clusters are counted separately);
  * scaling — throughput efficiency between the two levels.

Usage: python scripts/soak_semdedup.py [--n 1000000] [--cells 64]
       [--eps 0.95]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.environ.get("SOAK_WORK", "/root/tmpwork/semdedup_soak")
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from soak_pagerank import run_packaged  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--n", type=int, default=1_000_000)
    p.add_argument("--cells", type=int, default=64)
    p.add_argument("--eps", type=float, default=0.95)
    p.add_argument("--cores-small", type=int, default=2)
    p.add_argument("--cores-big", type=int, default=8)
    args = p.parse_args()

    os.makedirs(WORK, exist_ok=True)
    emb_path = f"{WORK}/embeddings.parquet"

    from jochre3_ocr_spark.operators.similarity import synthesize_embeddings
    from jochre3_ocr_spark.plans.pipeline import get_spark

    t0 = time.time()
    spark = get_spark("semdedup-gen", master="local[32]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    synthesize_embeddings(spark, args.n).write.mode("overwrite").parquet(
        emb_path
    )
    n_rows = spark.read.parquet(emb_path).count()
    spark.stop()
    print(json.dumps({
        "phase": "generate", "n": n_rows,
        "sec": round(time.time() - t0, 1),
    }), flush=True)

    engine_zip = f"{WORK}/engine.zip"
    if os.path.exists(engine_zip):
        os.remove(engine_zip)
    subprocess.run(["zip", "-qr", engine_zip, "jochre3_ocr_spark"],
                   cwd=REPO, check=True)

    walls: dict[int, float] = {}
    for cores in (args.cores_small, args.cores_big):
        out_path = f"{WORK}/verdicts_c{cores}.parquet"
        res = run_packaged([
            "--corpus-op", "semantic-dedup",
            "--n-buckets", str(args.cells), "--eps", str(args.eps),
            "--shuffle-partitions", str(max(cores * 4, 8)),
            "--input", emb_path, "--output", out_path,
        ], engine_zip, cores)
        print(json.dumps(
            {"phase": f"semdedup_local[{cores}]", **res}), flush=True)
        if res["rc"] != 0:
            print(res["stderr_tail"], file=sys.stderr)
            return 1
        walls[cores] = next(
            j["sec"] for j in res["json"]
            if j.get("corpus_op") == "semantic-dedup"
        )

    import duckdb

    con = duckdb.connect()
    a = f"{WORK}/verdicts_c{args.cores_small}.parquet/*.parquet"
    b = f"{WORK}/verdicts_c{args.cores_big}.parquet/*.parquet"
    diff = con.execute(f"""
        SELECT count(*) FROM (
          (SELECT vec_id, cluster_id, keep FROM '{a}'
           EXCEPT SELECT vec_id, cluster_id, keep FROM '{b}')
          UNION ALL
          (SELECT vec_id, cluster_id, keep FROM '{b}'
           EXCEPT SELECT vec_id, cluster_id, keep FROM '{a}')
        )""").fetchone()[0]
    # designed-family recovery: members are ids % 100 == 0, family
    # g = (id // 100) % 10; each must be ONE cluster, keeper = min id
    fam = con.execute(f"""
        WITH m AS (SELECT vec_id, (vec_id // 100) % 10 AS g,
                          cluster_id, keep
                   FROM '{a}' WHERE vec_id % 100 = 0)
        SELECT g, count(DISTINCT cluster_id) AS n_clusters,
               count(*) AS members,
               min(vec_id) = min(cluster_id) AS keeper_is_min,
               sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_kept
        FROM m GROUP BY g ORDER BY g""").fetchall()
    # expected members per family from the actual id grid (ids % 100
    # == 0, family = (id // 100) % 10) — n // 1000 only when n is a
    # multiple of 1000, so count instead of assuming
    expected = [
        sum(
            1
            for m in range(0, args.n, 100)
            if (m // 100) % 10 == g
        )
        for g in range(10)
    ]
    fam_ok = all(
        r[1] == 1 and r[2] == expected[int(r[0])] and r[3] and r[4] == 1
        for r in fam
    )
    extra = con.execute(f"""
        SELECT count(*) FROM (
          SELECT cluster_id FROM '{a}' WHERE vec_id % 100 <> 0
          GROUP BY cluster_id HAVING count(*) > 1)""").fetchone()[0]
    ratio = args.cores_big / args.cores_small
    eff = round(walls[args.cores_small] / walls[args.cores_big] / ratio, 3)
    verdict = {
        "phase": "verify",
        "cross_parallelism_diff_rows": diff,
        "families_recovered_exactly": fam_ok,
        "family_rows": [list(map(int, r[:3])) + [bool(r[3]), int(r[4])]
                        for r in fam],
        "accidental_random_clusters": extra,
        "wall_small": walls[args.cores_small],
        "wall_big": walls[args.cores_big],
        "scaling_efficiency": eff,
        "ok": diff == 0 and fam_ok,
    }
    print(json.dumps(verdict), flush=True)

    return 0 if verdict["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
