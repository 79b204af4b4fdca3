#!/usr/bin/env python3
"""Compressed bytes per column of a parquet directory, from the footers.

    python scripts/column_bytes.py DIR
    python scripts/column_bytes.py BASE_DIR HEAD_DIR

For every column of the ``*.parquet`` files under ``DIR`` (recursively,
so a partitioned table counts whole), prints the compressed and
uncompressed bytes summed over all row groups, the codecs and the
encodings, all read from pyarrow metadata: no data page is decoded.
Given two directories, also prints each column's compressed-byte
difference HEAD − BASE and its share of BASE. The ``(footer)`` row is
what the files hold beyond their column chunks: footers and magic.
"""

from __future__ import annotations

import argparse
import glob
import os

import pyarrow.parquet as pq


def column_bytes(path: str) -> dict[str, dict]:
    """``{column path: {compressed, uncompressed, codecs, encodings}}``
    over every parquet file under ``path``, plus a ``(footer)`` entry."""
    files = sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if not files:
        raise SystemExit(f"no parquet files under {path}")
    cols: dict[str, dict] = {}
    total = 0
    for f in files:
        total += os.path.getsize(f)
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                col = cols.setdefault(cc.path_in_schema, {
                    "compressed": 0, "uncompressed": 0,
                    "codecs": set(), "encodings": set(),
                })
                col["compressed"] += cc.total_compressed_size
                col["uncompressed"] += cc.total_uncompressed_size
                col["codecs"].add(cc.compression)
                col["encodings"].update(cc.encodings)
    chunks = sum(c["compressed"] for c in cols.values())
    cols["(footer)"] = {
        "compressed": total - chunks, "uncompressed": total - chunks,
        "codecs": set(), "encodings": set(),
    }
    return cols


def _print_one(path: str, cols: dict[str, dict]) -> None:
    total = sum(c["compressed"] for c in cols.values())
    print(f"{path}: {total:,} B")
    print(f"{'column':<24} {'compressed':>12} {'uncompressed':>13} "
          f"{'ratio':>6}  codec  encodings")
    for name, c in cols.items():
        ratio = c["uncompressed"] / c["compressed"] if c["compressed"] else 0.0
        print(f"{name:<24} {c['compressed']:>12,} {c['uncompressed']:>13,} "
              f"{ratio:>6.2f}  {','.join(sorted(c['codecs'])) or '-':<6} "
              f"{','.join(sorted(c['encodings'])) or '-'}")


def _print_diff(base: dict[str, dict], head: dict[str, dict]) -> None:
    print(f"{'column':<24} {'base':>12} {'head':>12} {'head-base':>12} "
          f"{'of base':>8}")
    names = list(base) + [n for n in head if n not in base]
    rows = [(n, base.get(n, {}).get("compressed", 0),
             head.get(n, {}).get("compressed", 0)) for n in names]
    rows.append(("(total)", sum(b for _, b, _ in rows),
                 sum(h for _, _, h in rows)))
    for name, b, h in rows:
        share = f"{(h - b) / b:+.1%}" if b else "-"
        print(f"{name:<24} {b:>12,} {h:>12,} {h - b:>+12,} {share:>8}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dirs", nargs="+", metavar="DIR",
                    help="one parquet directory, or BASE and HEAD")
    args = ap.parse_args()
    if len(args.dirs) > 2:
        ap.error("give one or two directories")
    tables = [(d, column_bytes(d)) for d in args.dirs]
    for d, cols in tables:
        _print_one(d, cols)
        print()
    if len(tables) == 2:
        _print_diff(tables[0][1], tables[1][1])


if __name__ == "__main__":
    main()
