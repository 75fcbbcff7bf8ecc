"""One-line-per-query plan summary with a red-flag scan.

Builds every requested query's DataFrame (driver-only for most queries;
iterative builders may run jobs while building) and scans its formatted
physical plan for the anti-patterns the 100 TB brief forbids:

- ``BatchEvalPython`` / ``ArrowEvalPython`` — a row-at-a-time Python
  boundary in a query path (guide §4);
- ``CartesianProduct`` — an unbounded cross join (guide §3);
- Exchange count — the shuffle budget (guide §2);
- ``SortMergeJoin`` count.

Usage:
  python scripts/dump_plans.py [--only q1,q2] [--bench-only] \
      [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduceindex_demo_spark.plans import QUERIES  # noqa: E402
from mapreduceindex_demo_spark.session import get_spark  # noqa: E402


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan(name: str, text: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", text))
    flags = []
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        if bad in text:
            flags.append(f"{bad}x{len(re.findall(bad, text))}")
    if "SortMergeJoin" in text:
        flags.append(f"SMJx{len(re.findall('SortMergeJoin', text))}")
    return f"{name}: exchanges={n_ex} {' '.join(flags)}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--bench-only", action="store_true")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark(app_name="plan-dump")
    spark.sparkContext.setLogLevel("ERROR")

    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
    elif args.bench_only:
        names = [n for n, q in QUERIES.items() if q.bench]
    else:
        names = list(QUERIES)

    failures = []
    for name in names:
        try:
            text = plan_text(QUERIES[name].fn(spark, args.sf))
        except Exception as e:  # noqa: BLE001 - report and continue
            failures.append(name)
            print(f"{name}: PLAN-BUILD ERROR {type(e).__name__}: {e}", file=sys.stderr)
            continue
        print(scan(name, text))
        # iterative plan builders may persist helper frames; drop them so a
        # full-registry sweep doesn't accumulate executor storage
        spark.catalog.clearCache()
    if failures:
        print(f"FAILED to build {len(failures)} plans: {failures}", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
