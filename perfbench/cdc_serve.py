"""``cdc_serve``: keep a function index, an expression index and a reduce
view fresh over a CDC stream while serving reads of the expression index
and the view.

Set-up generates the corpus and creates and commits the three structures
in the fresh process (the backfill: what creating the indexes costs a new
application, inside ``setup_s``), then runs two untimed cycles.

The measured part repeats the cycle, the workload's round, at least four
times:

- ingest: one CDC batch through ``apply_changes`` + ``checkpoint_state``
  on both indexes, no scans;
- serve: two rounds of (range scan with ``limit``, up to two keyset pages
  after it, one view read), then a smaller CDC batch is enqueued on the
  expression index and the next read is a range scan at
  ``consistency="session"``, which must apply it first.

``round_s`` is the median over the cycles of the time their batch and
reads took; the commit, scan, view and session-read medians go to
standard error.

Checks: after every ingest batch the entries each index holds for the
batch's documents equal the model's emit count; after the warm-up cycles
and at the end every entry of both indexes and every row of the view
equal the pure-Python model; every scan returns its rows in index order,
inside its bounds, with the key tuples of the model's first ``limit``
entries of that range at that point of the stream; every view read
equals the model's view.
"""

from __future__ import annotations

import random
import time

from perfbench import corpus
from perfbench.cdc_model import (
    EXPR_INDEX,
    FN_INDEX,
    N_CATS,
    VIEW,
    CdcModel,
    emits_for,
    expr_entries,
    first_keys,
    fn_entries,
    view_rows,
)
from perfbench.checks import entries_match, scan_ok, view_match
from perfbench.common import Round, Tracer, log, median, persisted_rdds, round_metrics

N_DOCS = 10_000
INGEST_BATCH = 1_000
SERVE_BATCH = 500
WARM_CYCLES = 2
MIN_CYCLES = 4
LIMIT = 100
CAT_SPAN = 3  # categories a range scan covers


def run(spark, args, scratch, t_process, setup: dict) -> tuple:
    from mapreduceindex_demo_spark.mapindex import MapIndexEngine

    tracer = Tracer(spark, args.trace)
    t = time.perf_counter()
    model = CdcModel(args.seed)
    src = corpus.source_df(spark, model.initial_corpus(N_DOCS))
    rng = random.Random(args.seed + 1)
    setup["setup.inputs_s"] = time.perf_counter() - t

    t = time.perf_counter()
    engine = MapIndexEngine(spark)
    with tracer.span("backfill") as backfill:
        corpus.create_structures(engine, src)
    # the function index sees the ingest batches only; serve batches go to
    # the expression index, so it has its own copy of the live documents
    fn_docs = dict(model.docs)
    # cycle times still fall over the first three or four batches of a
    # process (6.4-6.7 s, then 5.0-5.3, then 4.3-5.0), so set-up runs whole
    # cycles, untraced, before the timed ones
    warm_batches: list[dict] = []
    warm = {"scan": [], "view": [], "fresh": []}
    ok = True
    for _ in range(WARM_CYCLES):
        ok &= _cycle(spark, engine, model, fn_docs, rng, Tracer(spark, False), warm_batches, warm)[1]
    setup["setup.warmup_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - t_process
    log(f"cdc_serve set-up {setup_s:.1f}s, backfill {backfill['seconds']:.3f}s")
    ok &= _full_check(engine, model, fn_docs)
    ok &= all(r["ok"] and not r["failed"] for rs in warm.values() for r in rs)
    ok &= not any(r.get("failed") for r in warm_batches)

    batches: list[dict] = []
    rounds: list[Round] = []
    ops = {"scan": [], "view": [], "fresh": []}
    t_measure = time.perf_counter()
    while len(rounds) < MIN_CYCLES or time.perf_counter() - t_measure < args.seconds:
        rnd, cycle_ok = _cycle(spark, engine, model, fn_docs, rng, tracer, batches, ops)
        ok &= cycle_ok
        rounds.append(rnd)
    ok &= _full_check(engine, model, fn_docs)

    reads = [r for rs in ops.values() for r in rs]
    ok &= all(r["ok"] for r in reads)
    failed = sum(r.get("failed", False) for r in batches + reads)
    attempted = len(batches) + len(reads)
    good_batches = [b for b in batches if not b.get("failed")]
    good = {k: [r for r in rs if not r["failed"]] for k, rs in ops.items()}
    log(
        f"{len(rounds)} cycles of {', '.join(f'{r.seconds:.3f}' for r in rounds)}s; "
        f"commit p50 {median([b['seconds'] for b in good_batches]):.3f}s, "
        f"{sum(b['changes'] for b in good_batches) / sum(b['seconds'] for b in good_batches):.0f} "
        f"changes/s; {len(reads)} reads, "
        f"scan p50 {median([r['seconds'] for r in good['scan']]):.3f}s, "
        f"view p50 {median([r['seconds'] for r in good['view']]):.3f}s, "
        f"fresh p50 {median([r['seconds'] for r in good['fresh']]):.3f}s"
    )
    metrics = round_metrics(rounds, setup_s, args.trace, setup)
    return ok, attempted, failed, metrics, tracer


def _cycle(spark, engine, model, fn_docs, rng, tracer, batches, ops) -> tuple:
    """One round: an ingest batch, then serving. Ingest and serve
    alternate so that a stretch of contention on the box falls on both
    kinds of operation alike."""
    rnd = Round()
    rec: dict = {}
    ok = True
    try:
        ok = _batch(spark, engine, model, fn_docs, tracer, rec, rnd)
    except Exception as exc:  # noqa: BLE001 - counted, run goes on
        rec["failed"] = True
        log(f"batch failed: {type(exc).__name__}: {exc}")
    batches.append(rec)
    want = _expected(model)
    _read_round(engine, want, rng, tracer, ops, rnd)
    _read_round(engine, want, rng, tracer, ops, rnd)
    batch = model.make_batch(SERVE_BATCH)
    engine.enqueue_changes(EXPR_INDEX, corpus.changes_df(spark, batch), **corpus.APPLY_ARGS)
    model.apply(batch)
    _read(engine, _expected(model), tracer, ops, rnd, "fresh", *_range(rng))
    rnd.persisted_rdds = persisted_rdds(spark)
    return rnd, ok


# -- ingest ----------------------------------------------------------------


def _batch(spark, engine, model, fn_docs, tracer, rec: dict, rnd: Round) -> bool:
    """Apply one generated batch to both indexes and commit; check the
    entries inserted for the batch's documents against the model."""
    from pyspark.sql import functions as F

    batch = model.make_batch(INGEST_BATCH)
    changes = corpus.changes_df(spark, batch)
    final = model.apply(batch)
    for d, body in final.items():
        if body is None:
            fn_docs.pop(d, None)
        else:
            fn_docs[d] = body
    plan = commit = 0.0
    with tracer.span("batch") as s:
        for name in (FN_INDEX, EXPR_INDEX):
            with tracer.span(f"apply:{name}") as a:
                engine.apply_changes(name, changes, **corpus.APPLY_ARGS)
            with tracer.span(f"commit:{name}") as c:
                engine.checkpoint_state(name)
            plan += a["seconds"]
            commit += c["seconds"]
    ids = spark.createDataFrame([(d,) for d in final], "doc_id long")
    held = [
        engine.index_table(n).join(ids, "doc_id", "left_semi").select(F.lit(i).alias("i"))
        for i, n in enumerate((FN_INDEX, EXPR_INDEX))
    ]
    counts = dict(held[0].union(held[1]).groupBy("i").count().collect())
    got = (counts.get(0, 0), counts.get(1, 0))
    want = emits_for(final)
    if got != want:
        log(f"CHECK FAILED batch entries: engine {got} != model {want}")
    rec.update(seconds=s["seconds"], changes=len(batch))
    rnd.add(s, plan, commit)
    return got == want


def _full_check(engine, model, fn_docs) -> bool:
    ok = (
        entries_match(corpus.index_entries(engine, EXPR_INDEX), expr_entries(model.docs))
        and view_match(corpus.view_table(engine), view_rows(model.docs))
        and entries_match(corpus.index_entries(engine, FN_INDEX), fn_entries(fn_docs))
    )
    if not ok:
        log("CHECK FAILED: index entries or view differ from the model")
    return ok


# -- serve -------------------------------------------------------------------


def _expected(model) -> tuple:
    """The model's expression-index entries and view at this point."""
    return expr_entries(model.docs), view_rows(model.docs)


def _range(rng) -> tuple[list, list]:
    c = rng.randrange(N_CATS - CAT_SPAN + 1)
    return [f"c{c:02d}"], [f"c{c + CAT_SPAN - 1:02d}"]


def _read_round(engine, want, rng, tracer, ops, rnd: Round) -> None:
    """A range scan, up to two keyset pages after it, one view read."""
    lo, hi = _range(rng)
    last = _read(engine, want, tracer, ops, rnd, "scan", lo, hi)
    for _ in range(2):
        if last is None:
            break
        last = _read(engine, want, tracer, ops, rnd, "scan", last, hi, after=True)
    rec = {"failed": False, "ok": True}
    try:
        with tracer.span("view.read") as s:
            with tracer.span("view.plan") as p:
                df = engine.reduce_view_table(VIEW)
            rows = df.collect()
        rnd.add(s, p["seconds"], s["seconds"] - p["seconds"])
        rec.update(seconds=s["seconds"], ok=view_match(corpus.view_rows_of(rows), want[1]))
    except Exception as exc:  # noqa: BLE001 - counted, run goes on
        log(f"view read failed: {type(exc).__name__}: {exc}")
        rec["failed"] = True
    if not rec["ok"]:
        log("CHECK FAILED view read differs from the model")
    ops["view"].append(rec)


def _read(engine, want, tracer, ops, rnd: Round, kind, low, high, after=False):
    """One range scan (``after``: a keyset page strictly after ``low``);
    returns the last key tuple read when the page is full, else None."""
    from mapreduceindex_demo_spark.mapindex import INCL_BOTH, INCL_HIGH

    rec = {"failed": False, "ok": True}
    build = 0.0
    try:
        with tracer.span(kind) as s:
            if kind == "fresh" and tracer.enabled:
                # traced runs drain explicitly so the apply shows as its
                # own span; the scan below then finds nothing queued
                with tracer.span("fresh.drain") as d:
                    engine.drain_pending(EXPR_INDEX)
                build += d["seconds"]
            with tracer.span(f"{kind}.plan") as p:
                df = engine.scan(
                    EXPR_INDEX,
                    low=low,
                    high=high,
                    inclusion=INCL_HIGH if after else INCL_BOTH,
                    consistency="session" if kind == "fresh" else "any",
                    limit=LIMIT,
                )
            rows = df.collect()
    except Exception as exc:  # noqa: BLE001 - counted, run goes on
        log(f"{kind} read failed: {type(exc).__name__}: {exc}")
        rec["failed"] = True
        ops[kind].append(rec)
        return None
    build += p["seconds"]
    rnd.add(s, build, s["seconds"] - build)
    keys = [(r["key_0"], r["key_1"]) for r in rows]
    first = first_keys(want[0], low, high, LIMIT, low_excl=after)
    rec.update(
        seconds=s["seconds"],
        ok=scan_ok(keys, low, high, first, low_excl=after),
    )
    if not rec["ok"]:
        log(f"CHECK FAILED {kind} {low}..{high}: {keys[:3]} != {first[:3]}")
    ops[kind].append(rec)
    return list(keys[-1]) if len(keys) == LIMIT else None
