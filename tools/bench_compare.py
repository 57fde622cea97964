"""Diff two BENCH_r*.json files query by query.

Mirrors the reference's continuous-benchmark discipline (BASELINE.md:
alert at 200% of the prior run): flags any query slower than THRESHOLD x
its old time, prints the full sorted delta table, and exits non-zero on
regressions so it can gate CI.

Usage:  python tools/bench_compare.py BENCH_r05.json BENCH_r06.json [threshold]
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        raw = json.load(f)
    # driver files wrap the bench line under "parsed"; bare bench.py
    # output is the dict itself
    d = raw.get("parsed", raw)
    queries = dict(d.get("queries", {}))
    # secondary per-query maps: "select_dir" (directory-layout selects);
    # older files carry their secondary map as "bucketed"
    for key in ("bucketed", "select_dir"):
        queries.update(d.get(key, {}))
    return {"total": d.get("value"), "queries": queries}


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    old, new = load(sys.argv[1]), load(sys.argv[2])
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 2.0
    rows = []
    for name in sorted(set(old["queries"]) | set(new["queries"])):
        a, b = old["queries"].get(name), new["queries"].get(name)
        ratio = (b / a) if (a and b) else None
        rows.append((name, a, b, ratio))
    rows.sort(key=lambda r: -(r[3] or 0))
    print(f"{'query':44s} {'old':>8s} {'new':>8s} {'ratio':>7s}")
    regressions = []
    for name, a, b, ratio in rows:
        mark = ""
        if ratio is not None and ratio > threshold:
            mark = f"  << REGRESSION (> {threshold}x)"
            regressions.append(name)
        if a is None:
            mark = "  (new)"
        elif b is None:
            mark = "  (removed)"
        print(
            f"{name:44s} {a if a is not None else '-':>8} "
            f"{b if b is not None else '-':>8} "
            f"{f'{ratio:.2f}' if ratio else '-':>7s}{mark}"
        )
    ta, tb = old["total"], new["total"]
    if ta and tb:
        print(f"\ntotal: {ta} -> {tb}  ({tb / ta:.2f}x)")
    if regressions:
        print(f"\n{len(regressions)} regression(s): {', '.join(regressions)}")
        return 1
    print("\nno per-query regression above threshold")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
