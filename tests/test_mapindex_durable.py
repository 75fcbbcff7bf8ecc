"""Durable index persistence (r4 verdict item 4).

The reference's index is a MAINTAINED table on storage (IndexDefn shipped to
storage nodes, index.go:173-214; dataport sink writing through,
indexjs.go:129-188) — it survives process death. These tests prove the Spark
twin: save_index/load_index roundtrip, a CDC batch applied THROUGH the
durable table equals the windowed rebuild, the rewrite touches ONLY affected
bucket partitions, re-applying a batch is idempotent, and a bucket whose
every entry is retracted is dropped from disk.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreduceindex_demo_spark.catalog import IndexDefn
from mapreduceindex_demo_spark.mapindex import MapIndexEngine


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, grp bigint, val double")


def _defn(name="idx_durable", **kw):
    kw.setdefault("bucket", "docs")
    kw.setdefault("sec_exprs", ("grp", "val"))
    return IndexDefn(name=name, **kw)


@pytest.fixture()
def built(spark, tmp_path):
    eng = MapIndexEngine(spark)
    src = _docs(
        spark,
        [(f"d{i}", i % 4, float(i)) for i in range(40)],
    )
    eng.create_index(_defn(), src, doc_id_col="doc_id")
    path = str(tmp_path / "idx")
    eng.save_index("idx_durable", path, buckets=8)
    return eng, src, path


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_save_load_roundtrip_fresh_engine(spark, built):
    eng, src, path = built
    fresh = MapIndexEngine(spark)  # no shared state with `eng`
    state = fresh.load_index(path)
    assert _sorted_rows(state) == _sorted_rows(eng.index_table("idx_durable"))
    # defn restored into the fresh catalog, field-for-field
    assert fresh.catalog.get_index("idx_durable") == eng.catalog.get_index(
        "idx_durable"
    )
    assert fresh.engine_stats("idx_durable")["idx_durable"]["status"] == "ACTIVE"


def test_save_load_roundtrip_fresh_session(spark, built):
    """The state must outlive the SparkSession that built it: reopen via a
    NEW session (separate SQL conf/temp-view namespace on the shared
    context) and an engine bound to it."""
    _, _, path = built
    s2 = spark.newSession()
    fresh = MapIndexEngine(s2)
    state = fresh.load_index(path)
    assert state.count() == 40
    # scans work against the reopened index
    got = fresh.scan("idx_durable", low=2, high=2).select("doc_id")
    assert got.count() == 10  # grp==2: i in {2,6,...,38}


def test_durable_merge_equals_rebuild(spark, built):
    eng, src, path = built
    # batch: d1/d5 upsert new values, d2 deleted, d100 inserted
    changes = spark.createDataFrame(
        [
            ("d1", 99, 1.5, "upsert", 1),
            ("d5", 99, 5.5, "upsert", 2),
            ("d2", 0, 0.0, "delete", 3),
            ("d100", 7, 100.0, "upsert", 4),
        ],
        "doc_id string, grp bigint, val double, op string, seq bigint",
    )
    fresh = MapIndexEngine(spark)
    fresh.load_index(path)
    merged = fresh.apply_changes_durable(
        "idx_durable", changes, doc_id_col="doc_id", op_col="op", seq_col="seq"
    )
    # oracle: rebuild from the post-change snapshot
    final = (
        src.filter(~F.col("doc_id").isin("d1", "d5", "d2", "d100"))
        .unionByName(
            spark.createDataFrame(
                [("d1", 99, 1.5), ("d5", 99, 5.5), ("d100", 7, 100.0)],
                "doc_id string, grp bigint, val double",
            )
        )
    )
    ref = MapIndexEngine(spark)
    ref.create_index(_defn(), final, doc_id_col="doc_id")
    assert _sorted_rows(merged) == _sorted_rows(ref.index_table("idx_durable"))
    # batches_applied persisted in the sidecar: a third engine sees it
    third = MapIndexEngine(spark)
    third.load_index(path)
    assert third.engine_stats("idx_durable")["idx_durable"]["batches_applied"] == 1


def test_merge_rewrites_only_affected_buckets(spark, built):
    """The 100 TB contract: a small CDC batch must NOT rewrite the whole
    index — only the bucket partitions holding changed docs."""
    _, _, path = built
    fresh = MapIndexEngine(spark)
    fresh.load_index(path)
    listing_before = {
        d: frozenset(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("__bucket=")
    }
    changes = spark.createDataFrame(
        [("d1", 50, -1.0, "upsert", 1)],
        "doc_id string, grp bigint, val double, op string, seq bigint",
    )
    fresh.apply_changes_durable(
        "idx_durable", changes, doc_id_col="doc_id", op_col="op", seq_col="seq"
    )
    listing_after = {
        d: frozenset(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("__bucket=")
    }
    changed = [d for d in listing_before if listing_before[d] != listing_after.get(d)]
    assert len(changed) == 1  # exactly d1's bucket was rewritten
    untouched = [d for d in listing_before if listing_before[d] == listing_after.get(d)]
    assert len(untouched) == len(listing_before) - 1


def test_durable_merge_is_idempotent(spark, built):
    """At-least-once delivery upstream ⇒ exactly-once index state: applying
    the SAME batch twice leaves identical entries (T1 through storage)."""
    _, _, path = built
    fresh = MapIndexEngine(spark)
    fresh.load_index(path)
    changes = spark.createDataFrame(
        [("d3", 77, 3.3, "upsert", 1), ("d4", 0, 0.0, "delete", 2)],
        "doc_id string, grp bigint, val double, op string, seq bigint",
    )
    once = _sorted_rows(
        fresh.apply_changes_durable(
            "idx_durable", changes, doc_id_col="doc_id", op_col="op", seq_col="seq"
        )
    )
    twice = _sorted_rows(
        fresh.apply_changes_durable(
            "idx_durable", changes, doc_id_col="doc_id", op_col="op", seq_col="seq"
        )
    )
    assert once == twice


def test_emptied_bucket_is_dropped_from_disk(spark, tmp_path):
    """Retracting EVERY entry of a bucket must remove its partition from
    disk (dynamic overwrite alone would leave the stale files): with
    buckets=1 and all docs deleted, the index reads back empty."""
    eng = MapIndexEngine(spark)
    src = _docs(spark, [("a", 1, 1.0), ("b", 2, 2.0)])
    eng.create_index(_defn(name="idx_tiny"), src, doc_id_col="doc_id")
    path = str(tmp_path / "tiny")
    eng.save_index("idx_tiny", path, buckets=1)
    changes = spark.createDataFrame(
        [("a", 0, 0.0, "delete", 1), ("b", 0, 0.0, "delete", 2)],
        "doc_id string, grp bigint, val double, op string, seq bigint",
    )
    state = eng.apply_changes_durable(
        "idx_tiny", changes, doc_id_col="doc_id", op_col="op", seq_col="seq"
    )
    assert state.count() == 0
    assert not any(d.startswith("__bucket=") for d in os.listdir(path))
    # and it still reopens (empty, schema intact)
    fresh = MapIndexEngine(spark)
    reopened = fresh.load_index(path)
    assert reopened.count() == 0
    assert reopened.columns == ["key_0", "key_1", "doc_id"]


def test_durable_backlog_equals_sequential_durable_merges(spark, built):
    """Catch-up through storage: one apply_backlog_durable over an ordered
    3-batch backlog must land the same on-disk state as three sequential
    apply_changes_durable calls (the fold it replaces)."""
    _, _, path = built
    rows = [
        ("d1", 10, 1.0, "upsert", 1, 0),
        ("d2", 20, 2.0, "upsert", 2, 0),
        ("d1", 11, 1.1, "upsert", 3, 1),
        ("d3", 30, 3.0, "upsert", 4, 1),
        ("d2", 0, 0.0, "delete", 5, 2),
        ("d1", 12, 1.2, "upsert", 6, 2),
    ]
    sch = "doc_id string, grp bigint, val double, op string, seq bigint, b int"
    backlog = spark.createDataFrame(rows, sch)

    import shutil as _sh

    seq_path = str(path) + "_seq"
    _sh.copytree(path, seq_path)

    one = MapIndexEngine(spark)
    one.load_index(path)
    one.apply_backlog_durable(
        "idx_durable", backlog, doc_id_col="doc_id", op_col="op",
        seq_col="seq", batch_col="b", n_batches=3,
    )
    fold = MapIndexEngine(spark)
    fold.load_index(seq_path)
    for b in range(3):
        fold.apply_changes_durable(
            "idx_durable",
            spark.createDataFrame([r for r in rows if r[5] == b], sch).drop("b"),
            doc_id_col="doc_id", op_col="op", seq_col="seq",
        )
    assert _sorted_rows(one.index_table("idx_durable")) == _sorted_rows(
        fold.index_table("idx_durable")
    )
    assert (
        one.engine_stats("idx_durable")["idx_durable"]["batches_applied"]
        == fold.engine_stats("idx_durable")["idx_durable"]["batches_applied"]
    )


def test_rebucket_preserves_entries_and_changes_layout(spark, built):
    """Rebalance twin: changing the bucket count must preserve every entry
    and produce the new directory layout; merges keep working after."""
    _, src, path = built
    fresh = MapIndexEngine(spark)
    before = _sorted_rows(fresh.load_index(path))
    fresh.rebucket_index("idx_durable", buckets=3)
    dirs = [d for d in os.listdir(path) if d.startswith("__bucket=")]
    assert len(dirs) <= 3
    after = _sorted_rows(fresh.index_table("idx_durable"))
    assert after == before
    stats = fresh.engine_stats("idx_durable")["idx_durable"]
    assert stats["durable"] == {"path": path, "buckets": 3}
    # and a reopened engine sees the rebucketed layout via the sidecar
    again = MapIndexEngine(spark)
    assert _sorted_rows(again.load_index(path)) == before
    changes = spark.createDataFrame(
        [("d0", 9, 9.0, "upsert", 1)],
        "doc_id string, grp bigint, val double, op string, seq bigint",
    )
    merged = again.apply_changes_durable(
        "idx_durable", changes, doc_id_col="doc_id", op_col="op", seq_col="seq"
    )
    assert merged.filter("doc_id = 'd0'").collect()[0]["key_0"] == 9


def test_range_scan_over_durable_index_pushes_filters(spark, built):
    """The persistence layout must SERVE scans, not just survive them: a
    leading-key range scan over a reopened index reaches the parquet scan
    as pushed filters (min/max row-group pruning; files are key-sorted
    within buckets so the stats bracket disjoint ranges)."""
    _, _, path = built
    fresh = MapIndexEngine(spark)
    fresh.load_index(path)
    scanned = fresh.scan("idx_durable", low=1, high=2)
    plan = scanned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(key_0,1)" in plan
    assert "LessThanOrEqual(key_0,2)" in plan
    assert scanned.count() == 20  # grp in {1,2}: 10 docs each


def test_load_rejects_conflicting_registered_defn(spark, built):
    """Reopening a saved index into an engine that already has a DIFFERENT
    index under the same name must fail loudly, not silently scan with the
    wrong definition."""
    _, src, path = built
    other = MapIndexEngine(spark)
    other.create_index(
        _defn(sec_exprs=("val", "grp")), src, doc_id_col="doc_id"
    )
    with pytest.raises(ValueError, match="DIFFERENT"):
        other.load_index(path)


def test_function_index_requires_registered_function(spark, tmp_path):
    """A durable FUNCTION index references its map function by name (the
    reference resolves evaluators from metakv) — loading without
    registering it first must fail loudly, and succeed after."""
    eng = MapIndexEngine(spark)

    def on_map(meta, doc):
        return [(doc["grp"],)]

    eng.register_function("grp_of", on_map)
    src = _docs(spark, [("a", 1, 1.0), ("b", 2, 2.0)])
    eng.create_index(
        _defn(
            name="idx_fn",
            sec_exprs=None,
            func_name="grp_of",
            key_types=("bigint",),
        ),
        src,
        doc_id_col="doc_id",
    )
    path = str(tmp_path / "fn")
    eng.save_index("idx_fn", path, buckets=2)

    fresh = MapIndexEngine(spark)
    with pytest.raises(KeyError, match="grp_of"):
        fresh.load_index(path)
    fresh.register_function("grp_of", on_map)
    assert fresh.load_index(path).count() == 2


def test_durable_layout_works_through_file_uri(spark, tmp_path):
    """The durable layout's metadata ops (sidecar read/write, bucket
    listings, emptied-bucket drop, rebucket swap) go through the Hadoop
    FileSystem API, so a scheme-qualified path must work end-to-end. A
    `file:/` URI is the local proof: raw os.listdir/open on the URI string
    would fail immediately, so everything passing here passed through
    Hadoop FS — the same calls address hdfs:// or s3a:// unchanged."""
    eng = MapIndexEngine(spark)
    src = _docs(spark, [(f"d{i}", i % 3, float(i)) for i in range(24)])
    eng.create_index(_defn("idx_uri"), src, doc_id_col="doc_id")
    path = "file://" + str(tmp_path / "idx_uri")
    eng.save_index("idx_uri", path, buckets=4)

    fresh = MapIndexEngine(spark)
    state = fresh.load_index(path)
    before = _sorted_rows(state)
    assert before == _sorted_rows(eng.index_table("idx_uri"))

    # merge THROUGH the durable table on the URI path (delete one doc,
    # change another), then verify against the in-memory twin
    changes = spark.createDataFrame(
        [("d0", 0, 0.0, "delete"), ("d1", 2, 99.0, "upsert")],
        "doc_id string, grp bigint, val double, op string",
    )
    fresh.apply_changes_durable("idx_uri", changes, "doc_id", "op")
    eng.apply_changes("idx_uri", changes, doc_id_col="doc_id", op_col="op")
    assert _sorted_rows(fresh.index_table("idx_uri")) == _sorted_rows(
        eng.index_table("idx_uri")
    )

    # rebucket (staging + rename swap) on the URI path
    fresh.rebucket_index("idx_uri", 2)
    assert _sorted_rows(fresh.index_table("idx_uri")) == _sorted_rows(
        eng.index_table("idx_uri")
    )
    assert not (tmp_path / "idx_uri.__rebucket_staging").exists()
    assert not (tmp_path / "idx_uri.__rebucket_old").exists()


def _view_rebuild(eng):
    return _sorted_rows(
        eng.index_table("idx_durable")
        .groupBy("key_0")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("key_1").alias("total"))
    )


def test_durable_view_maintained_and_reopens(spark, built, tmp_path):
    """A durable reduce view (per-bucket partials) tracks durable CDC
    merges and survives engine death: a FRESH engine reopens index + view
    from disk and the served aggregate equals a from-scratch GROUP BY."""
    eng, src, path = built
    eng.save_reduce_view_durable("rv", "idx_durable", ["key_0"], sum_col="key_1")
    assert _sorted_rows(eng.reduce_view_table_durable("rv")) == _view_rebuild(eng)

    changes = spark.createDataFrame(
        [("d1", 9, 99.0, "upsert"), ("d2", None, None, "delete"),
         ("d99", 9, 1.0, "upsert")],
        "doc_id string, grp bigint, val double, op string",
    )
    eng.apply_changes_durable("idx_durable", changes, doc_id_col="doc_id", op_col="op")
    assert _sorted_rows(eng.reduce_view_table_durable("rv")) == _view_rebuild(eng)

    fresh = MapIndexEngine(spark)
    fresh.load_index(path)
    fresh.load_reduce_view_durable("idx_durable", "rv")
    assert _sorted_rows(fresh.reduce_view_table_durable("rv")) == _view_rebuild(eng)


def test_durable_view_replay_is_idempotent(spark, built):
    """THE design point of the partial layout: re-applying the same batch
    (at-least-once delivery / crash replay) leaves the view identical —
    partials are a pure function of post-merge index state, not an
    increment that would double-apply."""
    eng, src, path = built
    eng.save_reduce_view_durable("rv", "idx_durable", ["key_0"], sum_col="key_1")
    changes = spark.createDataFrame(
        [("d3", 7, 70.0, "upsert"), ("d5", None, None, "delete")],
        "doc_id string, grp bigint, val double, op string",
    )
    eng.apply_changes_durable("idx_durable", changes, doc_id_col="doc_id", op_col="op")
    once = _sorted_rows(eng.reduce_view_table_durable("rv"))
    eng.apply_changes_durable("idx_durable", changes, doc_id_col="doc_id", op_col="op")
    assert _sorted_rows(eng.reduce_view_table_durable("rv")) == once == _view_rebuild(eng)


def test_durable_view_drops_emptied_partials(spark, tmp_path):
    """Retracting every doc of a bucket drops BOTH the index bucket dir and
    the view's matching partial dir; the served view still answers (empty
    frame fallback from the recorded schema when all partials vanish)."""
    eng = MapIndexEngine(spark)
    src = _docs(spark, [("only", 1, 1.0)])
    eng.create_index(_defn("idx_durable"), src, doc_id_col="doc_id")
    path = str(tmp_path / "one")
    eng.save_index("idx_durable", path, buckets=2)
    eng.save_reduce_view_durable("rv", "idx_durable", ["key_0"], sum_col="key_1")
    assert len(_sorted_rows(eng.reduce_view_table_durable("rv"))) == 1

    deletes = spark.createDataFrame(
        [("only", None, None, "delete")],
        "doc_id string, grp bigint, val double, op string",
    )
    eng.apply_changes_durable("idx_durable", deletes, doc_id_col="doc_id", op_col="op")
    vdirs = [
        d
        for d in os.listdir(os.path.join(path, "_view_rv"))
        if d.startswith("__bucket=")
    ]
    assert vdirs == []
    assert _sorted_rows(eng.reduce_view_table_durable("rv")) == []


def test_durable_sketch_view_survives_retraction(spark, built):
    """A distinct-measure view on a MUTABLE durable index: the per-bucket
    recompute makes the sketch retraction-safe (unlike the in-memory delta
    fold, which rejects mutable indexes) — deleting docs shrinks the
    estimate back to the exact surviving distinct count."""
    eng, src, path = built
    with pytest.raises(ValueError, match="int/bigint/string/binary"):
        eng.save_reduce_view_durable(
            "rvd", "idx_durable", ["key_0"], distinct_col="key_1"  # double
        )
    eng.save_reduce_view_durable(
        "rvd", "idx_durable", ["key_0"], distinct_col="doc_id"
    )
    served = {tuple(r) for r in eng.reduce_view_table_durable("rvd").collect()}
    # 40 docs, grp = i%4 — 10 distinct doc_ids per grp
    assert served == {(g, 10, 10) for g in range(4)}

    deletes = spark.createDataFrame(
        [(f"d{i}", None, None, "delete") for i in range(20)],  # half per grp
        "doc_id string, grp bigint, val double, op string",
    )
    eng.apply_changes_durable(
        "idx_durable", deletes, doc_id_col="doc_id", op_col="op"
    )
    served = {tuple(r) for r in eng.reduce_view_table_durable("rvd").collect()}
    assert served == {(g, 5, 5) for g in range(4)}

    fresh = MapIndexEngine(spark)
    fresh.load_index(path)  # auto-registers; distinct_col round-trips
    assert {
        tuple(r) for r in fresh.reduce_view_table_durable("rvd").collect()
    } == served


def test_durable_minmax_view_retraction_safe(spark, built):
    """Min/max measures on the DURABLE path need no opt-in machinery:
    partials are always recomputed from post-merge bucket state, so
    retracting a group's current extreme (or its whole membership) is
    exact by construction — and a fresh engine reopens the view with the
    measure intact."""
    eng, src, path = built
    eng.save_reduce_view_durable(
        "rvmm", "idx_durable", ["key_0"], sum_col="key_1", minmax_col="key_1"
    )

    def rebuild():
        return _sorted_rows(
            eng.index_table("idx_durable")
            .groupBy("key_0")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("key_1").alias("total"),
                F.min("key_1").alias("min_val"),
                F.max("key_1").alias("max_val"),
            )
        )

    assert _sorted_rows(eng.reduce_view_table_durable("rvmm")) == rebuild()

    # retract the current max of a live group and move a doc across groups
    top = (
        eng.index_table("idx_durable")
        .orderBy(F.desc("key_1"))
        .select("doc_id", "key_0")
        .first()
    )
    changes = spark.createDataFrame(
        [(top["doc_id"], None, None, "delete"), ("d1", 9, -50.0, "upsert")],
        "doc_id string, grp bigint, val double, op string",
    )
    eng.apply_changes_durable(
        "idx_durable", changes, doc_id_col="doc_id", op_col="op"
    )
    assert _sorted_rows(eng.reduce_view_table_durable("rvmm")) == rebuild()

    fresh = MapIndexEngine(spark)
    fresh.load_index(path)
    fresh.load_reduce_view_durable("idx_durable", "rvmm")
    assert _sorted_rows(fresh.reduce_view_table_durable("rvmm")) == rebuild()

    # a rebucket re-saves the index and regenerates its durable views;
    # the min/max measure must survive into the new layout's sidecar
    eng.rebucket_index("idx_durable", 3)
    assert _sorted_rows(eng.reduce_view_table_durable("rvmm")) == rebuild()


def test_in_memory_minmax_view_on_durable_index(spark, tmp_path):
    """An IN-MEMORY min/max reduce view on a durable index keeps its
    extremes: after apply_changes_durable, after load_index and after a
    rebucket it equals a fresh aggregation of the index state, and the
    rebucket leaves no RDD persisted behind."""
    eng = MapIndexEngine(spark)
    src = _docs(spark, [("a", 1, 3.0), ("b", 1, 5.0)])
    eng.create_index(_defn(name="idx_mm"), src, doc_id_col="doc_id")
    eng.create_reduce_view("mm", "idx_mm", ["key_0"], minmax_col="key_1")
    path = str(tmp_path / "mm")
    eng.save_index("idx_mm", path, buckets=2)

    def rebuild():
        return _sorted_rows(
            eng.index_table("idx_mm")
            .groupBy("key_0")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("key_1").alias("min_val"),
                F.max("key_1").alias("max_val"),
            )
        )

    changes = spark.createDataFrame(
        [("c", 1, 4.0, "upsert")], "doc_id string, grp bigint, val double, op string"
    )
    eng.apply_changes_durable("idx_mm", changes, doc_id_col="doc_id", op_col="op")
    assert _sorted_rows(eng.reduce_view_table("mm")) == rebuild() == [(1, 3, 3.0, 5.0)]
    eng.load_index(path)
    assert _sorted_rows(eng.reduce_view_table("mm")) == rebuild()

    # the rebucket deletes the old layout's files, which the view read
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    eng.rebucket_index("idx_mm", 3)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    assert _sorted_rows(eng.reduce_view_table("mm")) == rebuild() == [(1, 3, 3.0, 5.0)]
