#!/usr/bin/env python3
"""Interleaved A/B benchmark of two revisions with ``perfbench/run.py``.

    python scripts/ab.py --base REV --workload extract_job --seeds 501-510
    python scripts/ab.py --base REV --head REV2 --workload dedup_adversarial \\
        --seeds 601,602,603,604 --out /path/to/results

BASE is a committed revision, exported with ``git archive`` into
``OUT/base-src`` (a plain copy: nothing is registered in the repository,
so a killed run leaves no stale checkout metadata behind).  HEAD is this
checkout as it is on disk, uncommitted edits included, unless ``--head``
names a revision, which is exported the same way.

For every seed, one ``perfbench/run.py --workload W --seed S`` run per
side, each a fresh driver process; the side that goes first alternates
from seed to seed so that a drift of the machine over the session falls
on both sides alike.  ``--seeds`` must name an even number of seeds, so
that each side runs second equally often: within a pair the side that
runs second tends to read faster (it did on 5 of 6 ``extract_job``
pairs, whichever revision it was), and an odd count hands that edge to
one side in the medians and the pairs won.  Result records go to
``OUT/base`` and ``OUT/head``, then ``perfbench/run.py --compare
OUT/base OUT/head`` prints per-metric quartiles, pairs won and the
verdicts under ``BENCHMARK.json``'s bounds.
Run it on an otherwise idle machine: the load average is printed before
every run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    """``501-510`` or ``501,503,507`` (or a mix)."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _export(rev: str, dest: str) -> str:
    """Write the tree of ``rev`` to ``dest``; return the full commit id."""
    commit = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", rev + "^{commit}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(
        ["git", "-C", REPO, "archive", commit], stdout=subprocess.PIPE
    )
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")
    return commit


def _run(checkout: str, args, seed: int, out: str) -> dict:
    cmd = [
        sys.executable, os.path.join(checkout, "perfbench", "run.py"),
        "--workload", args.workload, "--seed", str(seed), "--out", out,
    ]
    # Spark's Python workers put their working directory first on sys.path:
    # a run started elsewhere would import that directory's package there
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", required=True, help="BASE revision")
    p.add_argument("--head", help="HEAD revision (default: this checkout as is)")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 501-510 or 501,503")
    p.add_argument("--out", default=os.path.join(
        REPO, "ab_results", time.strftime("%Y%m%d-%H%M%S")))
    args = p.parse_args(argv)
    seeds = _seeds(args.seeds)
    if len(seeds) % 2:
        p.error(f"--seeds names {len(seeds)} seeds; name an even number "
                "so each side runs second equally often")

    out = os.path.abspath(args.out)
    sides = {"base": os.path.join(out, "base-src")}
    commits = {"base": _export(args.base, sides["base"])}
    if args.head:
        sides["head"] = os.path.join(out, "head-src")
        commits["head"] = _export(args.head, sides["head"])
    else:
        sides["head"] = REPO
        commits["head"] = "working tree"
    print(f"base {commits['base']}  head {commits['head']}  -> {out}", flush=True)

    try:
        for i, seed in enumerate(seeds):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for side in order:
                load = os.getloadavg()[0]
                rec = _run(sides[side], args, seed, os.path.join(out, side))
                metrics = " ".join(
                    f"{k}={v['value']:.4g}"
                    for k, v in sorted(rec["metrics"].items())
                )
                print(f"seed {seed} {side:4s} load_1m {load:5.2f} "
                      f"failed {rec['failed']} {metrics}", flush=True)
    finally:
        for side in ("base", "head"):
            if sides[side] != REPO:
                shutil.rmtree(sides[side], ignore_errors=True)
    return subprocess.run([
        sys.executable, os.path.join(REPO, "perfbench", "run.py"),
        "--compare", os.path.join(out, "base"), os.path.join(out, "head"),
    ]).returncode


if __name__ == "__main__":
    sys.exit(main())
