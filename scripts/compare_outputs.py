#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories query by query.

Usage: compare_outputs.py DIR_A DIR_B [q1,q2,...]

Each query's parquet directory is read with pandas on both sides and
compared with `DataFrame.equals` (same columns, dtypes, row order and
values; NaN equals NaN). Without a query list, every query directory
present in either side is compared. Prints one line per query and a
summary; exits 1 if any query differs or is missing on a side.

Parquet file bytes are not a usable test: they differ between any two
runs of the same query.
"""
import os
import sys

import pandas as pd


def queries(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    a, b = argv[1], argv[2]
    names = sorted(argv[3].split(",") if len(argv) == 4 else queries(a) | queries(b))
    bad = 0
    for q in names:
        pa, pb = os.path.join(a, q), os.path.join(b, q)
        missing = [p for p in (pa, pb) if not os.path.isdir(p)]
        if missing:
            verdict = "MISSING " + ", ".join(missing)
        else:
            da, db = pd.read_parquet(pa), pd.read_parquet(pb)
            verdict = "equal" if da.equals(db) else f"DIFFER rows {len(da)} vs {len(db)}"
        bad += verdict != "equal"
        print(f"{q}: {verdict}")
    print(f"{len(names) - bad} equal, {bad} differ or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
