"""Compare two BENCH_DETAIL json files per query: ratios, geomean, counts.

Usage: python tools/compare_bench.py A.json B.json [threshold]
Prints queries where B/A deviates by more than ``threshold`` (default 0.10),
plus aggregate stats. A = baseline, B = candidate.
"""

from __future__ import annotations

import json
import math
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        d = json.load(fh)
    q = dict(d.get("queries") or {})
    # prefer adjudicated solo readings where present
    for nm, rec in (d.get("solo_reruns") or {}).items():
        if isinstance(rec, dict) and rec.get("solo_sec", -1) > 0:
            q[nm] = rec["solo_sec"]
    return q


def compare(a: dict, b: dict) -> list[tuple[float, str, float, float]]:
    """(B/A, name, A, B) for every query with a positive timing in both,
    ascending by ratio; totals over these rows compare the same queries."""
    return sorted(
        (b[nm] / a[nm], nm, a[nm], b[nm])
        for nm in set(a) & set(b)
        if a[nm] > 0 and b[nm] > 0
    )


def main() -> None:
    a_path, b_path = sys.argv[1], sys.argv[2]
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.10
    a, b = load(a_path), load(b_path)
    rows = compare(a, b)
    if not rows:
        print("n_common=0: no query has a positive timing in both files")
        return
    n_imp = sum(1 for r, *_ in rows if r < 1 - thr)
    n_reg = sum(1 for r, *_ in rows if r > 1 + thr)
    geomean = math.exp(sum(math.log(r) for r, *_ in rows) / len(rows))
    print(f"n_common={len(rows)} improved>{int(thr*100)}%={n_imp} "
          f"regressed>{int(thr*100)}%={n_reg} "
          f"geomean_ratio={geomean:.3f} "
          f"total {sum(ta for _, _, ta, _ in rows):.1f}"
          f" -> {sum(tb for *_, tb in rows):.1f}")
    print("--- improved (B/A asc) ---")
    for r, nm, ta, tb in rows:
        if r < 1 - thr:
            print(f"{r:5.2f}  {ta:7.3f} -> {tb:7.3f}  {nm}")
    print("--- regressed (B/A desc) ---")
    for r, nm, ta, tb in sorted(rows, reverse=True):
        if r > 1 + thr:
            print(f"{r:5.2f}  {ta:7.3f} -> {tb:7.3f}  {nm}")


if __name__ == "__main__":
    main()
