"""Capture .explain("formatted") for registry queries into plans/<round>/
($PCS_PLANS_ROUND, default r13).

Usage:
  python tools/capture_plans.py before [sf_dir] [query ...]
  python tools/capture_plans.py after  [sf_dir] [query ...]

Defaults: sf_dir=/root/testdata/sf0.1, queries = all bench headline
entries.  Writes plans/<round>/<name>_<tag>.txt with Catalyst's
session-global ids normalized (see ``normalize``), so a before and an
after capture diff only where the plan really changed:

  diff plans/r13/m9_extrapolated_rate_before.txt plans/r13/m9_extrapolated_rate_after.txt

Explain only — no execution, so it is safe to run alongside other jobs.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


_SESSION_IDS = [
    (re.compile(r"#\d+L?\b"), "#N"),  # expression ids
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),  # lambda variables
    (re.compile(r"plan_id=\d+"), "plan_id=N"),  # exchange ids
]


def normalize(plan: str) -> str:
    """``plan`` with the ids Catalyst draws from session-global counters
    (expression ids ``#123``, lambda variable suffixes, exchange plan
    ids) replaced by stable placeholders."""
    for pat, rep in _SESSION_IDS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    args = sys.argv[2:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]

    from parquet_common_spark.session import get_spark
    import __spark_entry__ as E
    from parquet_common_spark.plans.common import REGISTRY

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    E.queries()

    names = args or [n for n, q in REGISTRY.items() if q.headline]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PCS_PLANS_ROUND", "r13"),
    )
    os.makedirs(out_dir, exist_ok=True)
    for n in names:
        df = REGISTRY[n].fn(spark, sf_dir)
        plan = normalize(
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        )
        path = os.path.join(out_dir, f"{n}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
