"""Scale-crossover benchmark: the same headline queries at ~sf1.

Spark's per-query constant (task scheduling, broadcast job launches,
JVM<->Python round trips) dominates at sf0.1 (~60 MB), where DuckDB's
fused single-process execution wins on latency. This script demonstrates
the crossover the engine is designed for: it synthesizes a 10x replica of
the sf0.1 testdata (each replica a disjoint, self-consistent key universe —
join selectivities and group cardinalities per replica are preserved),
then times the headline bench queries on BOTH engines over the same
parquet files.

The synthesized data is a BENCH-ONLY scale harness written under /tmp —
correctness always runs against the driver-provided testdata. Generation
is idempotent (skipped when the output dir already exists).

Usage: python scripts/bench_sf1.py  [--copies 10]
Appends nothing; prints a markdown table + one JSON line for BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mapreduceindex_demo_spark.oracle_harness import (  # noqa: E402
    duck_connect,
    duck_forced_sql,
)
from mapreduceindex_demo_spark.plans import QUERIES  # noqa: E402
from mapreduceindex_demo_spark.session import (  # noqa: E402
    TABLE_NAMES,
    get_spark,
    load_table,
)
from perfbench.common import Tracer, clear_caches, median  # noqa: E402
from perfbench.query_suite import _call  # noqa: E402

SRC = "/root/testdata/sf0.1"

#: integer id columns shifted per replica so each copy is a disjoint,
#: internally-consistent universe (dims region/nation stay fixed, as in
#: TPC-H, where they are scale-independent).
SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
#: per-table shift base: comfortably above the sf0.1 max of every key
BASE = 10_000_000


def generate(spark, out_dir: str, copies: int) -> None:
    for name in TABLE_NAMES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        df = load_table(spark, SRC, name)
        if name in SHIFT_COLS:
            parts = []
            for i in range(copies):
                rep = df
                for c in SHIFT_COLS[name]:
                    rep = rep.withColumn(c, F.col(c) + F.lit(i * BASE))
                parts.append(rep)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            # many output files -> real scan parallelism for both engines
            out = out.repartition(32)
        else:
            out = df
        if name == "events":
            # write ts back as epoch-nanos long: keeps the nanosAsLong read
            # path (and load_table's conversion) identical to the testdata
            out = out.withColumn(
                "ts", (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
            )
        out.write.mode("overwrite").parquet(dst)
        print(f"# generated {dst}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--out", default="/tmp/spark_graft_sf1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated registered query names to time instead of "
        "the bench set (new-query ~sf1 spot-checks for BASELINE.md)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="mri-bench-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    generate(spark, args.out, args.copies)

    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in names if n not in QUERIES]
        if unknown:
            print(f"unknown query names: {unknown}", file=sys.stderr)
            sys.exit(1)
        no_oracle = [n for n in names if QUERIES[n].oracle is None]
        if no_oracle:
            print(
                f"skipping oracle-less queries (no DuckDB side to time): "
                f"{no_oracle}",
                file=sys.stderr,
            )
        bench = {n: QUERIES[n] for n in names if QUERIES[n].oracle}
    else:
        bench = {n: q for n, q in QUERIES.items() if q.bench and q.oracle}

    # DuckDB side: same parquet, oracle SQL, all cores — view construction
    # and forced-checksum spelling shared with scripts/duck_suite.py via
    # oracle_harness so the two tables stay methodology-identical.
    con = duck_connect(args.out)

    # Both sides run a checksum aggregate over every output column of the
    # same query, so both fully materialize every value and neither pays
    # result transfer. The Spark side is perfbench's cold call (caches
    # cleared first; q.fn and the forcing action timed together), the
    # DuckDB side its forced SQL; each side runs once untimed first.
    tracer = Tracer(spark, False)
    rows = []
    for name, q in bench.items():
        d_force = duck_forced_sql(con, q.oracle)
        clear_caches(spark)
        _call(spark, tracer, name, args.out)  # warm
        s_runs = []
        for _ in range(args.reps):
            clear_caches(spark)
            s_runs.append(_call(spark, tracer, name, args.out)[2]["seconds"])
        con.execute(d_force).fetchall()  # warm
        d_runs = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            con.execute(d_force).fetchall()
            d_runs.append(time.perf_counter() - t0)
        rec = (name, round(median(s_runs), 3), round(median(d_runs), 3))
        rows.append(rec)
        print(
            f"# {name}: spark cold={rec[1]:.3f}s duckdb forced={rec[2]:.3f}s",
            file=sys.stderr,
        )
    clear_caches(spark)

    print("| query | spark cold (s) | duckdb forced (s) | ratio |")
    print("|---|---|---|---|")
    s_tot = sum(r[1] for r in rows)
    d_tot = sum(r[2] for r in rows)
    for name, s_t, d_t in rows:
        print(f"| {name} | {s_t} | {d_t} | {s_t / max(d_t, 1e-9):.2f}x |")
    print(f"| **total** | {s_tot:.3f} | {d_tot:.3f} | {s_tot / d_tot:.2f}x |")
    print(
        json.dumps(
            {
                "metric": "sf1_crossover_total",
                "spark_sec": round(s_tot, 3),
                "duckdb_sec": round(d_tot, 3),
                "ratio": round(s_tot / d_tot, 3),
                "queries": {n: {"spark": s, "duckdb": d} for n, s, d in rows},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
