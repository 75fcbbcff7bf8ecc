"""Durable IVF vector index (operators/vector_index.py): build / reopen /
probe round-trip, frozen-quantizer incremental maintenance, and the
emptied-cell partition drop."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mapreduceindex_demo_spark.functions import similarity as S
from mapreduceindex_demo_spark.operators.vector_index import IVFVectorIndex
from mapreduceindex_demo_spark.session import load_table
from tests.conftest import PARITY_SF_DIR


@pytest.fixture()
def corpus(spark):
    return (
        load_table(spark, PARITY_SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ee"))
        .where(F.col("vec_id") != 0)
    )


def _state(idx):
    """(vec_id, cid) pairs currently in the layout."""
    return {
        (r["vec_id"], int(r["cid"]))
        for r in idx.cells().select("vec_id", "cid").collect()
    }


def test_incremental_equals_rebuilt_assignment(spark, corpus):
    """Build on the first half of the corpus, then upsert the second half
    and delete a few initial members; the maintained layout must equal a
    from-scratch re-assignment of the surviving vectors against the SAME
    frozen centroids."""
    mid = 50
    first = corpus.where(F.col("vec_id") <= mid)
    with tempfile.TemporaryDirectory(prefix="mrix_vidx_") as path:
        idx = IVFVectorIndex.build(first, path, k=8, iters=2)

        dropped = [3, 9, 17]
        changes = (
            corpus.where(F.col("vec_id") > mid)
            .withColumn("op", F.lit("upsert"))
            .unionByName(
                first.where(F.col("vec_id").isin(dropped)).withColumn(
                    "op", F.lit("delete")
                )
            )
        )
        idx.apply_changes(changes)

        survivors = corpus.where(~F.col("vec_id").isin(dropped))
        expected = {
            (r["vec_id"], int(r["cid"]))
            for r in S.assign_cells(survivors, idx.centroids())
            .select("vec_id", "cid")
            .collect()
        }
        assert _state(idx) == expected

        # idempotent: re-applying the same batch changes nothing
        idx.apply_changes(changes)
        assert _state(idx) == expected


def test_emptied_cell_directory_is_dropped(spark, corpus):
    """Deleting every member of a cell must remove its partition directory
    (dynamic overwrite cannot rewrite a partition to empty), and a cold
    reopen + probe must still work against the shrunken layout."""
    small = corpus.where(F.col("vec_id") <= 30)
    with tempfile.TemporaryDirectory(prefix="mrix_vidx_") as path:
        idx = IVFVectorIndex.build(small, path, k=8, iters=1)
        victim = int(
            idx.cells()
            .groupBy("cid")
            .count()
            .orderBy("count", "cid")
            .first()["cid"]
        )
        members = idx.cells().where(F.col("cid") == victim).select("vec_id", "ee")
        idx.apply_changes(members.withColumn("op", F.lit("delete")))

        reopened = IVFVectorIndex.open(spark, path)
        left = {int(r["cid"]) for r in reopened.cells().select("cid").distinct().collect()}
        assert victim not in left

        q = small.limit(1).select(F.col("ee").alias("qe"))
        assert reopened.probe(q, nprobe=2, topk=3).count() <= 3


def test_streaming_vector_maintenance_survives_session_death(spark, tmp_path):
    """Live-embedding ingestion: bootstrap-train on the first 16 vectors,
    stream the rest as upsert slices plus a final delete file, killing the
    engine after a 2-file prefix and resuming on a NEW session from the
    same index_path + checkpoint. Final layout must equal a from-scratch
    re-assignment of the survivors against the frozen bootstrap
    centroids."""
    from mapreduceindex_demo_spark.streaming.maintenance import (
        materialize_embedding_cdc_files,
        run_streaming_vector_index_maintenance,
    )

    corpus = (
        load_table(spark, PARITY_SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("ee"))
        .where(F.col("vec_id") != 0)
    )
    cdc = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    path = str(tmp_path / "vidx")

    boot = corpus.where(F.col("vec_id") <= 16)
    IVFVectorIndex.build(boot, path, k=8, iters=2)

    materialize_embedding_cdc_files(spark, PARITY_SF_DIR, cdc, n_files=4, upto_file=2)
    idx1 = run_streaming_vector_index_maintenance(spark, cdc, ckpt, path)
    assert idx1.cells().count() > 0  # phase-1 index object now dropped

    materialize_embedding_cdc_files(spark, PARITY_SF_DIR, cdc, n_files=4)
    s2 = spark.newSession()
    idx2 = run_streaming_vector_index_maintenance(s2, cdc, ckpt, path)

    survivors = corpus.where(
        (F.col("vec_id") <= 16) | (F.col("vec_id") % 13 != 0)
    )
    expected = {
        (r["vec_id"], int(r["cid"]))
        for r in S.assign_cells(survivors, idx2.centroids())
        .select("vec_id", "cid")
        .collect()
    }
    assert _state(idx2) == expected


def test_probe_batch_matches_per_query_probes(spark, corpus):
    """Batch probing the durable layout must agree with N single-query
    probes (minus the self-match the batch path excludes), and the batch
    cells scan must carry the dynamic-pruning partition filter."""
    with tempfile.TemporaryDirectory(prefix="mrix_vidx_") as path:
        idx = IVFVectorIndex.build(corpus, path, k=8, iters=2)
        qids = [10, 40, 70]
        qvecs = corpus.where(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("qid"), F.col("ee").alias("qe")
        )
        batch = idx.probe_batch(qvecs, nprobe=2, topk=3)
        plan = batch._jdf.queryExecution().executedPlan().toString()
        got = {
            (r["qid"], r["vec_id"], r["cos_sim"], r["rk"])
            for r in batch.collect()
        }
        assert "dynamicpruning" in plan, plan

        expected = set()
        for qid in qids:
            q = corpus.where(F.col("vec_id") == qid).select(
                F.col("ee").alias("qe")
            )
            single = [
                r
                for r in idx.probe(q, nprobe=2, topk=4).collect()
                if r["vec_id"] != qid
            ][:3]
            for rk, r in enumerate(single, start=1):
                expected.add((qid, r["vec_id"], r["cos_sim"], rk))
        assert got == expected


def test_apply_changes_releases_its_batch(spark, corpus):
    """apply_changes persists its batch only for the call: no RDD id is
    left in getPersistentRDDs() afterwards, and the maintained layout
    equals a re-assignment of the surviving vectors."""
    jsc = spark.sparkContext._jsc
    first = corpus.where(F.col("vec_id") <= 40)
    with tempfile.TemporaryDirectory(prefix="mrix_vidx_") as path:
        idx = IVFVectorIndex.build(first, path, k=4, iters=1)
        changes = (
            corpus.where(F.col("vec_id").between(41, 60))
            .withColumn("op", F.lit("upsert"))
            .unionByName(
                first.where(F.col("vec_id").isin(5, 6)).withColumn(
                    "op", F.lit("delete")
                )
            )
        )
        before = set(jsc.getPersistentRDDs().keySet())
        idx.apply_changes(changes)
        # compared by id: the context cleaner may release older RDDs meanwhile
        assert set(jsc.getPersistentRDDs().keySet()) - before == set()
        survivors = corpus.where(
            (F.col("vec_id") <= 60) & ~F.col("vec_id").isin(5, 6)
        )
        expected = {
            (r["vec_id"], int(r["cid"]))
            for r in S.assign_cells(survivors, idx.centroids())
            .select("vec_id", "cid")
            .collect()
        }
        assert _state(idx) == expected


def _cell_files(path):
    """Every file under the cells layout: relative path -> bytes."""
    root = Path(path, "cells")
    return {p.relative_to(root): p.read_bytes() for p in root.rglob("*") if p.is_file()}


def test_apply_changes_rejects_unknown_op(spark, corpus):
    """An op other than upsert/delete/expiration raises before any cell is
    rewritten, instead of silently deleting the vector: a batch holding one
    good upsert and one ``"bogus"`` op on an indexed vector leaves every
    cell file byte-identical."""
    first = corpus.where(F.col("vec_id") <= 30)
    with tempfile.TemporaryDirectory(prefix="mrix_vidx_") as path:
        idx = IVFVectorIndex.build(first, path, k=4, iters=1)
        before = _cell_files(path)
        changes = (
            corpus.where(F.col("vec_id") == 31)
            .withColumn("op", F.lit("upsert"))
            .unionByName(
                first.where(F.col("vec_id") == 7).withColumn("op", F.lit("bogus"))
            )
        )
        with pytest.raises(Exception, match="unknown CDC op"):
            idx.apply_changes(changes)
        assert _cell_files(path) == before
