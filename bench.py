"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query is timed cold, the median of three calls through perfbench's
cold call (``perfbench.query_suite._call``), after one untimed pass.
Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "jobs": {...}, "legacy_total": N, "sf": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

from mapreduceindex_demo_spark.plans import QUERIES
from mapreduceindex_demo_spark.session import get_spark
from perfbench.common import Tracer, clear_caches, median
from perfbench.query_suite import _call

# Contention sentinel: median probe time on a QUIET machine, committed as
# the reference. The probe is a fixed scheduling-bound job (range.count is
# ~pure task-launch cost — exactly the constant that co-running workloads
# pollute). A bench run whose probe exceeds the reference by >50% is
# stamped "noisy": true so a polluted artifact can never masquerade as a
# regression — or an improvement. Re-calibrate only on hardware changes.
_PROBE_REF_SEC = 0.13  # calibrated: quiet-machine medians 0.09-0.145s
#: full-pass retries when the sentinel trips (r8 verdict item 4) and the
#: cool-down between them — transient co-running work usually drains fast
_MAX_ATTEMPTS = 2
_RETRY_COOLDOWN_SEC = 30
#: cold calls timed per query; the figure is their median
_REPS = 3

#: the 15 r6-era headline queries — FROZEN: every BENCH_r03..r09 total is
#: over exactly this set, so `legacy_total` keeps the cross-round series
#: comparable. Round 10 adds modern operators (the r7-r9 classes the
#: round-over-round tracking was blind to — r9 verdict "What's missing
#: #4") to the bench flags; those join `queries` and the GRAND total
#: (`value`), which therefore steps up at r10. Round 13 adds the two SNM
#: queries and the ahash APPLY ledger (r12 verdict item 3) — the grand
#: total steps again. Round 14 adds the respelled anisotropy diagnostic,
#: the fastText gate (the two adverse/borderline r13 ratios), and the
#: k-core decomposition (the widest with-scale WIN) per r13 verdict item
#: 3 — the grand total steps once more. Compare grand totals within a flag
#: era (r10-r12, r13, r14+), legacy totals across all rounds. Cold timing
#: is an era break for BOTH totals: earlier artifacts took the median of
#: three reps of which two ran warm on what the first persisted, and
#: timed a prunable `.count()`; compare cold artifacts only with cold ones.
_LEGACY_15 = frozenset(
    {
        "mapreduce_wordcount",
        "curated_training_set",
        "blocking_suppliers",
        "similarity_topk_cosine",
        "pricing_summary",
        "shipping_priority",
        "local_supplier_volume",
        "events_daily_rollup",
        "mapindex_expr_build",
        "mapindex_incremental_cdc",
        "text_token_stats",
        "dedup_minhash_signatures",
        "text_chunking",
        "large_volume_customers",
        "nation_market_share_yearly",
    }
)


def _probe(spark, reps: int = 5) -> float:
    """Median wall time of a fixed scheduling-bound no-op job."""
    runs = []
    for _ in range(2):  # un-timed scheduler/JIT warm-up
        spark.range(1_000_000, numPartitions=32).count()
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(1_000_000, numPartitions=32).count()
        runs.append(time.perf_counter() - t0)
    return round(sorted(runs)[len(runs) // 2], 4)


def _measure(spark, bench_queries, sf_dir: str, sf: float) -> dict:
    """One full timing pass; returns the artifact dict (incl. noisy flag).

    Every call, untimed or timed, is cold: caches are cleared and leftover
    RDDs unpersisted first, then ``q.fn`` and one forcing action (a hash
    over every output column) run through perfbench's call, so a figure
    is what a caller pays, jobs run while the plan is built included."""
    tracer = Tracer(spark, True)
    # one untimed pass: JIT, Python workers and the OS page cache
    for name in bench_queries:
        clear_caches(spark)
        _call(spark, tracer, name, sf_dir)
    clear_caches(spark)
    # the sentinel probes bracket the timed region
    probe_before = _probe(spark)

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for name in bench_queries:
        runs, counters = [], []
        for _ in range(_REPS):
            clear_caches(spark)
            _, _, span, _ = _call(spark, tracer, name, sf_dir)
            runs.append(span["seconds"])
            counters.append(span["counters"])
        timings[name] = round(median(runs), 4)
        c = {
            k: int(median([r[k] for r in counters]))
            for k in ("jobs", "stages", "tasks")
        }
        jobs[name] = c["jobs"]
        print(
            f"# {name}: {timings[name]:.3f}s cold, {c['jobs']} jobs, "
            f"{c['stages']} stages, {c['tasks']} tasks",
            file=sys.stderr,
        )
    clear_caches(spark)

    probe_after = _probe(spark)
    # max of the two: contention at EITHER end of the run can pollute
    # timings, and a falsely-clean artifact is worse than a re-run
    probe = max(probe_before, probe_after)
    noisy = probe > 1.5 * _PROBE_REF_SEC
    if noisy:
        print(
            f"# WARNING: contention sentinel tripped — probe {probe:.3f}s vs "
            f"quiet-machine reference {_PROBE_REF_SEC:.3f}s; timings below "
            "include co-running-workload noise",
            file=sys.stderr,
        )
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "jobs": jobs,
        # the frozen r6-era set; a renamed/un-benched legacy query must
        # break LOUDLY, not silently shrink the cross-round series
        "legacy_total": round(sum(timings[k] for k in _LEGACY_15), 4),
        "sf": sf,
        "probe_sec": probe,
        "probe_before_sec": probe_before,
        "probe_after_sec": probe_after,
        "probe_ref_sec": _PROBE_REF_SEC,
        "noisy": noisy,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0  # unknown scale; still run and report timings
    spark = get_spark(app_name="mri-bench")
    spark.sparkContext.setLogLevel("ERROR")

    bench_queries = {n: q for n, q in QUERIES.items() if q.bench}
    # Noisy-retry (r8 verdict item 4): BENCH_r08 shipped contention-tainted
    # because the sentinel tripped on the only pass taken. Run up to
    # _MAX_ATTEMPTS full passes; emit the first clean one, else the pass
    # with the lowest probe — the artifact is only born noisy when the
    # machine never went quiet for an entire attempt.
    attempts = []
    for attempt in range(_MAX_ATTEMPTS):
        result = _measure(spark, bench_queries, sf_dir, sf)
        attempts.append(result)
        if not result["noisy"]:
            break
        if attempt + 1 < _MAX_ATTEMPTS:
            print(
                f"# retrying after {_RETRY_COOLDOWN_SEC}s cool-down "
                f"(attempt {attempt + 1} noisy)",
                file=sys.stderr,
            )
            time.sleep(_RETRY_COOLDOWN_SEC)
    best = min(attempts, key=lambda r: r["probe_sec"])
    best["attempts"] = len(attempts)
    print(json.dumps(best))
    spark.stop()


if __name__ == "__main__":
    main()
