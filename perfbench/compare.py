"""Compare two sets of benchmark result files (``run.py --compare``).

Each side is a directory of the JSON records ``run.py`` writes, typically
filled by interleaved runs of the parent commit (BASE) and the change
(HEAD) on the same machine and seeds.  For every workload x metric the
table shows each side's median and quartiles, the fraction of pairs the
change won (runs paired by seed, else in run order; ties count for
neither side) and, for the end-to-end metrics, a verdict under the bounds
in ``BENCHMARK.json``:

* ``better``     -- HEAD wins at least 9 of 10 pairs and the medians differ
  by more than BASE's own quartile spread;
* ``unresolved`` -- the run-to-run spread of either side exceeds the bound,
  unless every HEAD run beats every BASE run;
* ``worse``      -- HEAD's median is worse than BASE's by more than the bound;
* ``unchanged``  -- otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def _load(directory: str) -> dict:
    """{(workload, trace): [record, ...]} in run order."""
    runs: dict = {}
    for path in glob.glob(os.path.join(directory, "*.json")):
        with open(path) as f:
            rec = json.load(f)
        runs.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    for recs in runs.values():
        recs.sort(key=lambda r: r["started_at"])
    return runs


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def _pairs(base: list[dict], head: list[dict]) -> list[tuple[dict, dict]]:
    by_seed = {r["seed"]: r for r in base}
    paired = [(by_seed[r["seed"]], r) for r in head if r["seed"] in by_seed]
    return paired if paired else list(zip(base, head))


def verdict(base: list[float], head: list[float], better: str, bound: float,
            wins: float) -> str:
    sign = 1.0 if better == "higher" else -1.0
    b1, bm, b3 = _quartiles(base)
    h1, hm, h3 = _quartiles(head)
    gain = sign * (hm - bm) / abs(bm) if bm else 0.0
    spread = max((b3 - b1) / abs(bm) if bm else 0.0,
                 (h3 - h1) / abs(hm) if hm else 0.0)
    if wins >= 0.9 and gain > 0 and abs(hm - bm) > b3 - b1:
        return "better"
    all_better = min(sign * h for h in head) > max(sign * b for b in base)
    if spread > bound and not all_better:
        return "unresolved"
    if -gain > bound:
        return "worse"
    return "unchanged"


def main(base_dir: str, head_dir: str, spec: dict) -> int:
    base_runs, head_runs = _load(base_dir), _load(head_dir)
    metrics = {0: spec["end_to_end"], 1: spec["per_layer"]}
    header = (f"{'workload':18s} {'metric':28s} {'base q1/med/q3':>32s} "
              f"{'head q1/med/q3':>32s} {'won':>5s} {'n':>5s}  verdict")
    print(header)
    for key in sorted(base_runs.keys() & head_runs.keys()):
        workload, trace = key
        pairs = _pairs(base_runs[key], head_runs[key])
        section = "end_to_end" if trace == 0 else "per_layer"
        for m in metrics[trace]:
            name = m["name"]
            base = [r[section][name] for r in base_runs[key]]
            head = [r[section][name] for r in head_runs[key]]
            sign = 1.0 if m["better"] == "higher" else -1.0
            won = sum(sign * h[section][name] > sign * b[section][name] for b, h in pairs)
            wins = won / len(pairs) if pairs else 0.0
            v = (verdict(base, head, m["better"], m["bound"], wins)
                 if "bound" in m else "-")
            fmt = "{:>10.4g}{:>11.4g}{:>11.4g}"
            print(f"{workload:18s} {name:28s} {fmt.format(*_quartiles(base))} "
                  f"{fmt.format(*_quartiles(head))} {wins:5.2f} "
                  f"{len(base):2d}/{len(head):<2d}  {v}")
    missing = base_runs.keys() ^ head_runs.keys()
    for workload, trace in sorted(missing):
        print(f"{workload} (trace={trace}): results on one side only")
    return 0
