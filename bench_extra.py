#!/usr/bin/env python3
"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver; all extra measurements live here — guide §1.4).

Usage:
  python bench_extra.py q1_pricing_summary dedup_simhash   # time named queries
  python bench_extra.py --headline                         # the 12 headline queries
  python bench_extra.py --all                              # everything in queries()
  python bench_extra.py --explain dedup_simhash            # dump plans/r06/<q>.txt
  SPARK_GRAFT_REPEATS=3 ... (min-of-N, default 3)

Each query runs once untimed as a warm-up, then is timed with the noop
sink (computes every column, discards the result) and labelled via
setJobDescription. Prints one JSON line:
{"queries": {name: min_sec}, "samples": {...}, "load_before"/"load_after"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    "extract_yiddish_corpus",
    "extract_processed_text",
    "extract_span_stats",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q_window_top_lineitems",
    "dedup_minhash_signature",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_cosine_topk",
    "text_quality",
    "extract_corpus_e2e",
]


def _load_evidence() -> dict:
    try:
        la1, la5, la15 = os.getloadavg()
        return {"load_1m": round(la1, 2), "load_5m": round(la5, 2),
                "load_15m": round(la15, 2)}
    except Exception:
        return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    explain = "--explain" in sys.argv[1:]
    explain_dir = os.environ.get("SPARK_GRAFT_EXPLAIN_DIR", "plans/r06")

    import __spark_entry__ as entry_mod
    from jochre3_ocr_spark.plans.pipeline import get_spark

    # validate names BEFORE paying Spark session startup: a typo'd name
    # silently missing from the output would corrupt an A/B comparison,
    # and the loud failure should be near-instant (queries() needs no
    # session)
    queries = entry_mod.queries()
    names: list[str] = []
    for a in sys.argv[1:]:
        if a == "--headline":
            names += HEADLINE
        elif a == "--all":
            names += [n for n in queries]
        elif not a.startswith("--"):
            names.append(a)
    if not names:
        names = HEADLINE
    unknown = [
        n for n in names
        if n != "extract_corpus_e2e" and n not in queries
    ]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("jochre3-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def run_query(name):
        if name == "extract_corpus_e2e":
            from jochre3_ocr_spark.plans.pipeline import extract_with_salting
            from jochre3_ocr_spark.sources.corpus import (
                docs_df, lexicon_words, n_docs_for_sf)
            sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
            docs = docs_df(spark, n_docs_for_sf(sf), partitions=cpus * 2)
            return extract_with_salting(docs, lexicon_words())
        return queries[name](spark, sf_dir)

    load_before = _load_evidence()
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        if explain:
            os.makedirs(explain_dir, exist_ok=True)
            plan = run_query(name)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"))
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
        # one untimed warm-up per query: the first run pays session,
        # Python-worker and JIT warm-up, not query cost
        spark.sparkContext.setJobDescription(f"bench_extra:{name}:warmup")
        run_query(name).write.format("noop").mode("overwrite").save()
        ss: list[float] = []
        for _ in range(max(1, repeats)):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            run_query(name).write.format("noop").mode("overwrite").save()
            ss.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        timings[name] = min(ss)
        samples[name] = ss
        print(f"## {name}: min={min(ss)} samples={ss}", file=sys.stderr)
    spark.stop()
    print(json.dumps({
        "queries": timings,
        "samples": samples,
        "total": round(sum(timings.values()), 3),
        "load_before": load_before,
        "load_after": _load_evidence(),
    }))


if __name__ == "__main__":
    main()
