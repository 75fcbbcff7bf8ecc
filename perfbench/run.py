"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_suite,cdc_serve}
        --seed N --seconds S --trace {0,1}

Prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics when ``--trace 0``, the per-layer metrics when ``--trace 1``
(which also writes the spans to ``perfbench/out/trace-<workload>-<seed>.json``).
Both workloads report the same metrics, taken over their rounds
(``common.Round``).
Works from any working directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("query_suite", "cdc_serve")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    scratch = common.prepare_env(f"{args.workload}-{args.seed}")
    spark = None
    try:
        setup: dict[str, float] = {}
        t = time.perf_counter()
        spark = common.start_spark()
        setup["setup.session_s"] = time.perf_counter() - t
        if args.workload == "query_suite":
            from perfbench import query_suite as wl
        else:
            from perfbench import cdc_serve as wl
        correct, attempted, failed, metrics, tracer = wl.run(
            spark, args, scratch, T_PROCESS, setup
        )
        if args.trace:
            tracer.write(
                os.path.join(common.OUT, f"trace-{args.workload}-{args.seed}.json")
            )
    finally:
        if spark is not None:
            spark.stop()
            common.stop_jvm()
        common.remove_scratch(scratch)
    common.emit_result(correct, attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
