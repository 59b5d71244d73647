#!/usr/bin/env python
"""Scaling-curve comparator: given two bench_full.json files recorded at
different scale factors, print per-query time ratios sorted worst-first
and flag rows whose growth exceeds the data growth by more than a
tolerance (default: ratio > data_ratio × 1.5 — i.e. clearly super-linear
after allowing fixed-overhead amortization noise on sub-second rows).

Usage:
    python tools/scalecheck.py bench_sf0.1.json bench_sf1.0.json [--full]

Sub-second base rows are reported but not flagged (fixed JVM/stage launch
overhead dominates them; their ratio is not a scaling signal).
"""

from __future__ import annotations

import json
import sys


def per_query(path: str) -> tuple:
    """(document, per-query seconds map) of one bench JSON file. Exits
    non-zero unless the map is there and complete: bench.py's compact
    final line carries only the slowest rows that fit its length budget
    under the same "queries" key, so a map shorter than ``n_queries`` is
    partial."""
    doc = json.load(open(path))
    q = doc.get("queries_median") or doc.get("queries")
    if not q:
        sys.exit(f"{path}: input lacks a per-query map — pass bench_full.json copies")
    n = doc.get("n_queries")
    if n is not None and len(q) != n:
        sys.exit(
            f"{path}: per-query map holds {len(q)} of n_queries={n} rows — "
            "bench.py's compact final line keeps only the slowest rows that "
            "fit its length budget; pass bench_full.json copies"
        )
    return doc, q


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    show_full = "--full" in sys.argv
    a, qa = per_query(args[0])
    b, qb = per_query(args[1])
    data_ratio = b["sf"] / a["sf"]
    common = sorted(set(qa) & set(qb))
    rows = []
    for n in common:
        ta, tb = qa[n], qb[n]
        ratio = tb / ta if ta > 0 else float("inf")
        flag = ratio > data_ratio * 1.5 and ta >= 1.0
        rows.append((ratio, n, ta, tb, flag))
    rows.sort(reverse=True)
    flagged = [r for r in rows if r[4]]
    print(f"# sf {a['sf']} -> {b['sf']} (data x{data_ratio:.0f}); "
          f"{len(common)} common queries; total "
          f"{sum(qa[n] for n in common):.1f}s -> "
          f"{sum(qb[n] for n in common):.1f}s")
    print(f"# flagged super-linear (ratio > {data_ratio * 1.5:.0f}x with "
          f"base >= 1s): {len(flagged)}")
    for ratio, n, ta, tb, flag in (rows if show_full else rows[:25]):
        mark = " <-- SUPER-LINEAR" if flag else ""
        print(f"{ratio:7.1f}x  {ta:7.2f}s -> {tb:8.2f}s  {n}{mark}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
