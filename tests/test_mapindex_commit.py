"""The commit contract of ``apply_changes``: with ``checkpoint=True`` one
call reads the batch once, materializes the new state and each view frame
once, releases the batch, and leaves ``checkpoint_state`` nothing to do;
with ``checkpoint=False`` it runs no job at all."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from mapreduceindex_demo_spark.catalog import IndexDefn
from mapreduceindex_demo_spark.mapindex import MapIndexEngine

SCHEMA = "doc_id bigint, grp string, v bigint, op string, seq bigint"
_group_ids = itertools.count()


def _engine(spark, rows=None):
    """An expression index on (grp, v) WHERE v > 0 with a cnt/sum view by
    grp, committed."""
    eng = MapIndexEngine(spark)
    rows = rows or [(i, "abc"[i % 3], i % 5, "upsert", 0) for i in range(1, 31)]
    eng.create_index(
        IndexDefn(name="ev", bucket="t", sec_exprs=("grp", "v"), where_expr="v > 0"),
        spark.createDataFrame(rows, SCHEMA),
        doc_id_col="doc_id",
        seq_col="seq",
    )
    eng.create_reduce_view("ev_by_grp", "ev", ["key_0"], sum_col="key_1")
    eng.checkpoint_state("ev")
    return eng


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


BATCH = [
    (1, "b", 7, "upsert", 10),  # update, group move a→b
    (2, "c", 3, "upsert", 11),
    (2, None, None, "delete", 12),  # a later delete wins
    (4, "a", 0, "upsert", 13),  # WHERE-false: retracts
    (40, "d", 2, "upsert", 14),  # insert, new group
    (40, "d", 6, "upsert", 15),  # a later upsert wins
]
APPLY = {"doc_id_col": "doc_id", "op_col": "op", "seq_col": "seq"}


def _jobs(spark, fn):
    """Run ``fn`` in its own job group; return (its result, jobs it ran)."""
    sc = spark.sparkContext
    group = f"commit-test-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _state(eng):
    return sorted(tuple(r) for r in eng.index_table("ev").collect())


def _view(eng):
    return sorted(tuple(r) for r in eng.reduce_view_table("ev_by_grp").collect())


def _rebuilt_view(eng):
    return sorted(
        tuple(r)
        for r in eng.index_table("ev")
        .groupBy("key_0")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("key_1").alias("total"))
        .collect()
    )


def test_seq_col_batch_with_repeated_docs(spark):
    """With ``seq_col`` the last change per doc is the only row per doc, so
    the retraction ids carry no ``distinct`` aggregate; two changes to one
    document still give the later one's entries and view, committed or
    lazy."""
    for checkpoint in (True, False):
        eng = _engine(spark)
        merged = eng.apply_changes(
            "ev", _batch(spark, BATCH), checkpoint=checkpoint, **APPLY
        )
        state = _state(eng)
        assert [r for r in state if r[2] in (1, 2, 4, 40)] == [
            ("b", 7, 1),
            ("d", 6, 40),
        ]
        assert len(state) == 24 - 2 + 1  # 24 WHERE-true docs, −2, +1
        assert _view(eng) == _rebuilt_view(eng)
        if not checkpoint:
            plan = merged._jdf.queryExecution().optimizedPlan().toString()
            assert "Aggregate" not in plan, plan
    # without seq_col the ids are de-duplicated
    eng = _engine(spark)
    merged = eng.apply_changes(
        "ev",
        _batch(spark, [(1, "b", 7, "upsert", 0)]),
        doc_id_col="doc_id",
        op_col="op",
        checkpoint=False,
    )
    assert "Aggregate" in merged._jdf.queryExecution().optimizedPlan().toString()


def test_partition_count_stays_bounded(spark):
    """Small batches plan the retraction as a broadcast anti-join, which
    keeps the state's partitions and appends the batch's; the commit
    bounds the count instead of letting it grow with every batch."""
    eng = _engine(spark)
    counts = []
    for b in range(10):
        rows = [
            (d, "abc"[(d + b) % 3], 1 + (d + b) % 4, "upsert", b)
            for d in (b + 1, b + 2)
        ]
        eng.apply_changes("ev", _batch(spark, rows), **APPLY)
        counts.append(eng.index_table("ev").rdd.getNumPartitions())
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert max(counts) <= max(counts[0], shuffle), counts
    assert _view(eng) == _rebuilt_view(eng)


def test_checkpointed_apply_reads_batch_once(spark):
    """The batch's source is evaluated once by apply_changes +
    checkpoint_state together (a Python UDF counts the rows it sees)."""
    eng = _engine(spark)
    seen = spark.sparkContext.accumulator(0)

    def count_row(doc_id):
        seen.add(1)
        return doc_id

    changes = _batch(spark, BATCH).withColumn(
        "doc_id", F.udf(count_row, "bigint")("doc_id")
    )
    eng.apply_changes("ev", changes, **APPLY)
    eng.checkpoint_state("ev")
    assert seen.value == len(BATCH)
    assert _view(eng) == _rebuilt_view(eng)


def test_checkpointed_apply_leaves_commit_nothing_to_do(spark):
    """checkpoint_state right after apply_changes(checkpoint=True) runs no
    Spark job and keeps the very frames the apply materialized."""
    eng = _engine(spark)
    eng.apply_changes("ev", _batch(spark, BATCH), **APPLY)
    state = eng.index_table("ev")
    view = eng._views["ev_by_grp"]["frame"]
    out, jobs = _jobs(spark, lambda: eng.checkpoint_state("ev"))
    assert jobs == 0
    assert out is state and eng._views["ev_by_grp"]["frame"] is view


def test_lazy_apply_runs_no_job_and_commit_materializes(spark):
    """checkpoint=False builds plans only; the next checkpoint_state
    materializes state and view, after which a commit is again free."""
    eng = _engine(spark)
    lazy, jobs = _jobs(
        spark,
        lambda: eng.apply_changes(
            "ev", _batch(spark, BATCH), checkpoint=False, **APPLY
        ),
    )
    assert jobs == 0
    committed, jobs = _jobs(spark, lambda: eng.checkpoint_state("ev"))
    assert jobs > 0
    assert committed is not lazy and eng.index_table("ev") is committed
    assert "LogicalRDD" in committed._jdf.queryExecution().analyzed().toString()
    _, jobs = _jobs(spark, lambda: eng.checkpoint_state("ev"))
    assert jobs == 0
    assert _view(eng) == _rebuilt_view(eng)


def test_apply_persists_only_new_state_and_view(spark):
    """After a committed apply the RDDs newly persisted are exactly the new
    state's and the new view frame's; the batch's own frame is released."""
    jsc = spark.sparkContext._jsc
    eng = _engine(spark)
    before = set(jsc.getPersistentRDDs().keySet())
    eng.apply_changes("ev", _batch(spark, BATCH), **APPLY)
    added = set(jsc.getPersistentRDDs().keySet()) - before
    frames = (eng.index_table("ev"), eng._views["ev_by_grp"]["frame"])
    assert added == {f._jdf.queryExecution().analyzed().rdd().id() for f in frames}


def test_durable_apply_reads_batch_once_and_releases_it(spark, tmp_path):
    """apply_changes_durable evaluates the batch's source once (a Python
    UDF counts the rows it sees) and leaves no new RDD persisted behind."""
    eng = MapIndexEngine(spark)
    rows = [(i, "abc"[i % 3], i % 5, "upsert", 0) for i in range(1, 31)]
    eng.create_index(
        IndexDefn(name="evd", bucket="t", sec_exprs=("grp", "v"), where_expr="v > 0"),
        spark.createDataFrame(rows, SCHEMA),
        doc_id_col="doc_id",
    )
    eng.save_index("evd", str(tmp_path / "evd"), buckets=4)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    seen = spark.sparkContext.accumulator(0)

    def count_row(doc_id):
        seen.add(1)
        return doc_id

    changes = _batch(spark, BATCH).withColumn(
        "doc_id", F.udf(count_row, "bigint")("doc_id")
    )
    eng.apply_changes_durable("evd", changes, **APPLY)
    # compared by id: the context cleaner may release older RDDs meanwhile
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    assert seen.value == len(BATCH)
    state = sorted(tuple(r) for r in eng.index_table("evd").collect())
    assert [r for r in state if r[2] in (1, 2, 4, 40)] == [("b", 7, 1), ("d", 6, 40)]


def test_durable_apply_fills_batch_with_its_bucket_collect(spark, tmp_path):
    """On the durable path the affected-bucket collect is the first job
    over the persisted batch and fills it: no separate count runs. One
    apply of BATCH runs 7 Spark jobs (AQE runs each query stage of the
    collect and of the partition rewrite as a job of its own); a count
    ahead of the collect made it 8."""
    eng = MapIndexEngine(spark)
    rows = [(i, "abc"[i % 3], i % 5, "upsert", 0) for i in range(1, 31)]
    eng.create_index(
        IndexDefn(name="evj", bucket="t", sec_exprs=("grp", "v"), where_expr="v > 0"),
        spark.createDataFrame(rows, SCHEMA),
        doc_id_col="doc_id",
    )
    eng.save_index("evj", str(tmp_path / "evj"), buckets=4)
    _, jobs = _jobs(
        spark, lambda: eng.apply_changes_durable("evj", _batch(spark, BATCH), **APPLY)
    )
    assert jobs == 7
    state = sorted(tuple(r) for r in eng.index_table("evj").collect())
    assert [r for r in state if r[2] in (1, 2, 4, 40)] == [("b", 7, 1), ("d", 6, 40)]
