#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

    python3 tools/same_outputs.py A B [q ...]

Each query's parquet output is put in the canonical form of
tools/check.py (columns sorted, every value rendered with str(), rows
sorted) on both sides. Every query that differs is printed with the
reason and, where the differing cells are numbers, the largest absolute
difference. With no query names, every query directory found under
either side is compared. Exits 1 if any query differs.
"""
import glob
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon  # noqa: E402


def load(out_dir, name):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        return None
    return canon(pd.concat([pd.read_parquet(f) for f in files]))


def max_abs_diff(a, b):
    """Largest |x - y| over differing cells that both parse as floats."""
    worst = None
    for c in a.columns:
        for x, y in zip(a[c], b[c]):
            if x == y:
                continue
            try:
                d = abs(float(x) - float(y))
            except ValueError:
                return None  # a non-numeric cell differs
            worst = d if worst is None else max(worst, d)
    return worst


def compare(a_dir, b_dir, name):
    """None when both sides are identical, else a one-line reason."""
    a, b = load(a_dir, name), load(b_dir, name)
    if a is None or b is None:
        return "output missing in " + " and ".join(
            side for side, df in (("A", a), ("B", b)) if df is None)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if a.equals(b):
        return None
    n = int((a != b).to_numpy().sum())
    d = max_abs_diff(a, b)
    return f"{n} cells differ, " + (
        f"max abs diff {d:.3g}" if d is not None else "non-numeric values differ")


def main(argv):
    if len(argv) < 3:
        print(__doc__.strip())
        return 2
    a_dir, b_dir, names = argv[1], argv[2], argv[3:]
    if not names:
        names = sorted({os.path.basename(os.path.dirname(f))
                        for d in (a_dir, b_dir) for f in glob.glob(f"{d}/*/*.parquet")})
    differ = 0
    for name in names:
        reason = compare(a_dir, b_dir, name)
        if reason is not None:
            differ += 1
            print(f"DIFF {name}: {reason}")
    print(f"\n{len(names) - differ}/{len(names)} queries identical")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
