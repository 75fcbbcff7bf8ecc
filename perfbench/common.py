"""Shared parts of the benchmark: environment, Spark session, spans with
per-call Spark counters, and summary statistics.

Every timing is taken around a call into the engine's public API from
here, outside the engine. In traced mode each call also runs inside its
own Spark job group; after the call the group's jobs are mapped to their
stages and the stages' metrics are summed into the span's counters.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
PACKAGE = "mapreduceindex_demo_spark"


def prepare_env(run_id: str) -> str:
    """Make the engine importable here and in Spark's Python workers and
    keep every scratch file of the run inside ``perfbench/out``. Returns
    the run's scratch directory, which the caller removes at exit."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"perfbench: the {PACKAGE} package is not under {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    scratch = os.path.join(OUT, f"run-{run_id}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no perf-data file under the system /tmp: a run writes only here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return scratch


def remove_scratch(scratch: str) -> None:
    shutil.rmtree(scratch, ignore_errors=True)


def cores() -> int:
    return min(4, os.cpu_count() or 1)


def start_spark():
    """The engine's own session at ``local[min(4, nproc)]`` with the
    shuffle-partition count fixed to the core count."""
    n = cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    from mapreduceindex_demo_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it only exits
    once its stdin closes, which otherwise happens after this process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def clear_caches(spark) -> None:
    """Drop cached tables and every RDD still persisted in the context."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


COUNTER_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "input_records": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}
COUNTERS = tuple(COUNTER_UNITS)


class Tracer:
    """Spans around calls into the engine.

    Disabled, :meth:`span` only measures wall time. Enabled, each span
    also runs in its own job group and records name, start, end, parent
    and the Spark counters of the jobs it ran (children included). Spans
    stay in memory until :meth:`write`."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._open: list[dict] = []
        self._t0 = time.perf_counter()
        self._n = 0

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1]["id"] if self._stack else None}
        if self.enabled:
            self._n += 1
            rec["id"] = self._n
            rec["group"] = f"perfbench-{os.getpid()}-{self._n}"
            self.spark.sparkContext.setJobGroup(rec["group"], name)
            self._stack.append(rec)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["seconds"] = end - start
            if self.enabled:
                rec["start"] = start - self._t0
                rec["end"] = end - self._t0
                self._stack.pop()
                self._open.append(rec)
                sc = self.spark.sparkContext
                if self._stack:
                    parent = self._stack[-1]
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                    self._close()

    def _close(self) -> None:
        """Counters of a finished top-level span and its children, read
        only once the top-level span has ended so that reading them never
        adds to a timed span. Children end before their parents, so each
        parent adds up complete child counters."""
        for rec in self._open:
            rec["counters"] = self._counters(rec["group"])
            for child in self._open:
                if child["parent"] == rec["id"]:
                    for k in COUNTERS:
                        rec["counters"][k] += child["counters"][k]
        self.spans.extend(self._open)
        self._open = []

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        c = dict.fromkeys(COUNTERS, 0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            c["jobs"] += 1
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage skipped, never run
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_s"] += st.executorRunTime() / 1000.0
                c["input_records"] += st.inputRecords()
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        return c

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


class Round:
    """Sums over one round of a workload's timed operations.

    Both workloads report the same metrics from their rounds: a round is
    one pass over the query suite, or one ingest-and-serve cycle. Each
    operation is split into its build part (the call that returns a plan
    or applies changes, with the jobs it runs eagerly) and its execute
    part (the action that materializes the result or commits)."""

    def __init__(self) -> None:
        self.seconds = 0.0
        self.build_s = 0.0
        self.execute_s = 0.0
        self.counters = dict.fromkeys(COUNTERS, 0)
        self.persisted_rdds = 0

    def add(self, span: dict, build_s: float, execute_s: float) -> None:
        """One top-level span; its counters are there in traced runs."""
        self.seconds += span["seconds"]
        self.build_s += build_s
        self.execute_s += execute_s
        for k, v in (span.get("counters") or {}).items():
            self.counters[k] += v


def round_metrics(rounds: list[Round], setup_s: float, traced: bool, setup: dict) -> dict:
    """The result line's metrics: end-to-end untraced, per-layer traced."""
    if not traced:
        return {
            "setup_s": metric(setup_s, "s"),
            "round_s": metric(median([r.seconds for r in rounds]), "s"),
        }
    m = {k: metric(v, "s") for k, v in setup.items()}
    m["round.build_s"] = metric(median([r.build_s for r in rounds]), "s")
    m["round.execute_s"] = metric(median([r.execute_s for r in rounds]), "s")
    for key, unit in COUNTER_UNITS.items():
        m[f"round.{key}"] = metric(median([r.counters[key] for r in rounds]), unit)
    m["round.persisted_rdds"] = metric(
        median([r.persisted_rdds for r in rounds]), "count"
    )
    return m


def median(xs) -> float:
    return float(statistics.median(xs))


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def emit_result(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
