#!/usr/bin/env python3
"""Strict oracle sweep: run every ``queries()`` entry on Spark and its
same-named ``oracle_sql()`` twin on DuckDB over one scale-factor
directory, and compare them strictly: same row count, same column
names, no integer/float dtype-kind mismatch, and order-insensitive cell
equality where floats compare by their shortest ``repr`` (no rounding
tolerance).

tests/test_entry_oracle.py runs the same ``compare`` at the smallest
scale factor; this sweep is the larger-SF check that changed queries
pass before they land.

Usage:
    python scripts/strict_sweep.py --sf-dir DIR [--only NAME ...] [--cpus N]

``--sf-dir`` defaults to $SPARK_GRAFT_SF_DIR. One line per query goes to
stdout (``ok``/``FAIL``, rows, seconds, first mismatch), then one JSON
summary line; the exit status is 1 when any query fails.
"""

from __future__ import annotations

import argparse
import decimal
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)  # -0.0 + 0.0 == 0.0
    return str(v)


def _norm(cols, rows) -> tuple[list, list]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        sorted(cols),
        sorted(tuple(_cell(r[i]) for i in order) for r in rows),
    )


def compare(sdf, ddf) -> str | None:
    """None when the Spark frame ``sdf`` and the DuckDB pandas frame
    ``ddf`` agree strictly, else a one-line description of the first
    difference."""
    srows = [tuple(r) for r in sdf.collect()]
    drows = [tuple(r) for r in ddf.itertuples(index=False)]
    if len(srows) != len(drows):
        return f"row count {len(srows)} != {len(drows)}"
    # a DuckDB HUGEINT (sum of INTEGER) surfaces as float64 in pandas and
    # hash-mismatches even when values are equal: CAST to BIGINT in the
    # oracle SQL when this fires
    spark_types = dict(sdf.dtypes)
    for c in ddf.columns:
        dk, sk = ddf[c].dtype.kind, spark_types.get(c, "?")
        if (dk == "f" and sk in ("bigint", "int", "smallint", "tinyint")) or (
            dk == "i" and sk in ("double", "float")
        ):
            return f"{c}: spark dtype {sk} vs duckdb pandas kind {dk}"
    scols, snorm = _norm(sdf.columns, srows)
    dcols, dnorm = _norm(list(ddf.columns), drows)
    if scols != dcols:
        return f"columns {scols} != {dcols}"
    bad = [i for i, (a, b) in enumerate(zip(snorm, dnorm)) if a != b]
    if bad:
        return f"{len(bad)} mismatched rows; first {snorm[bad[0]]} != {dnorm[bad[0]]}"
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--only", nargs="+", metavar="NAME",
                    help="sweep only these queries")
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 4)
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("--sf-dir is required when $SPARK_GRAFT_SF_DIR is unset")

    import duckdb

    import __spark_entry__ as entry_mod
    from jochre3_ocr_spark.plans.pipeline import get_spark

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = sorted(set(queries) & set(oracles))
    if args.only:
        unknown = sorted(set(args.only) - set(names))
        if unknown:
            ap.error(f"no query/oracle pair named {', '.join(unknown)}")
        names = sorted(set(args.only))

    spark = get_spark(
        "strict-sweep", master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )
    failed = []
    t_all = time.time()
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf_dir)
            ddf = con.execute(oracles[name]).fetch_df()
            err = compare(sdf, ddf)
            n = len(ddf)
        except Exception as e:  # noqa: BLE001 — report and keep sweeping
            err, n = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}", -1
        status = "ok" if err is None else "FAIL"
        print(f"{status:4} {name:40} rows={n:<8} {time.time() - t0:7.2f}s"
              + ("" if err is None else f"  {err}"), flush=True)
        if err is not None:
            failed.append(name)
    spark.stop()
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "passed": len(names) - len(failed),
        "total": len(names),
        "failed": failed,
        "sec": round(time.time() - t_all, 1),
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
