#!/usr/bin/env python3
"""Compare two graft.Verify dump dirs key by key.

Usage: dump_diff.py <dirA> <dirB>

Each dir holds one parquet result per query key (what `graft.Verify`
writes; oracle_sql.json is ignored). Rows are canonicalised and hashed
the way tools/oracle_check.py does it, then each key prints one line:

  SAME      identical rows
  SUPERSET  B holds every row of A (as a multiset) plus more
  DIFF      anything else, or the key is missing on one side

Typical use: dump the rows-only keys at a parent and at a change
(SPARK_GRAFT_VERIFY_ONLY=...), then check which keys moved. Exits 1
when any key is DIFF.
"""
import os
import sys
from collections import Counter

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_check import canon, cell, table_hash  # noqa: E402


def keys(d: str) -> set:
    return {k for k in os.listdir(d) if os.path.isdir(os.path.join(d, k))}


def rows(df: pd.DataFrame) -> Counter:
    return Counter(tuple(cell(v) for v in r) for r in df.itertuples(index=False))


def main(a_dir: str, b_dir: str) -> int:
    diffs = 0
    for k in sorted(keys(a_dir) | keys(b_dir)):
        if not (os.path.isdir(os.path.join(a_dir, k)) and os.path.isdir(os.path.join(b_dir, k))):
            print(f"DIFF {k}: only in {a_dir if os.path.isdir(os.path.join(a_dir, k)) else b_dir}")
            diffs += 1
            continue
        a = canon(pd.read_parquet(os.path.join(a_dir, k)))
        b = canon(pd.read_parquet(os.path.join(b_dir, k)))
        if list(a.columns) == list(b.columns) and table_hash(a) == table_hash(b):
            print(f"SAME {k} ({len(a)} rows)")
            continue
        if list(a.columns) == list(b.columns):
            ra, rb = rows(a), rows(b)
            if not (ra - rb):
                print(f"SUPERSET {k} ({len(a)} -> {len(b)} rows, +{len(b) - len(a)})")
                continue
            print(f"DIFF {k} ({len(a)} vs {len(b)} rows; {sum((ra - rb).values())} of A's rows not in B)")
        else:
            print(f"DIFF {k}: columns {list(a.columns)} vs {list(b.columns)}")
        diffs += 1
    return diffs


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
