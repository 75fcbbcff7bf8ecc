"""The search indexes are ordinary engine indexes, so they stay correct
under CDC: build the token + doclen indexes on half the corpus, apply one
upsert/delete batch through the DURABLE layout of each, and the BM25
ranking served from the maintained indexes must equal the scan-served
ranking over the survivor corpus computed from scratch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduceindex_demo_spark.catalog import IndexDefn
from mapreduceindex_demo_spark.mapindex import MapIndexEngine
from mapreduceindex_demo_spark.plans.search import bm25_from_indexes, bm25_scan_over
from mapreduceindex_demo_spark.session import load_table
from tests.conftest import PARITY_SF_DIR


@pytest.fixture()
def docs(spark):
    return load_table(spark, PARITY_SF_DIR, "documents")


def test_bm25_serves_correctly_from_cdc_maintained_indexes(spark, docs, tmp_path):
    first = docs.where(F.col("doc_id") % 2 == 0)

    eng = MapIndexEngine(spark)
    eng.create_index(
        IndexDefn(
            name="idx_bm25m_tokens",
            bucket="documents",
            sec_exprs=("split(text, ' ')",),
            is_array_index=True,
        ),
        first,
        doc_id_col="doc_id",
    )
    eng.create_index(
        IndexDefn(
            name="idx_bm25m_doclen",
            bucket="documents",
            sec_exprs=("size(split(text, ' '))",),
        ),
        first,
        doc_id_col="doc_id",
    )
    eng.save_index("idx_bm25m_tokens", str(tmp_path / "tokens"), buckets=8)
    eng.save_index("idx_bm25m_doclen", str(tmp_path / "doclen"), buckets=8)

    # one batch: the odd half arrives, every doc_id % 10 == 0 is retracted
    changes = (
        docs.where(F.col("doc_id") % 2 == 1)
        .withColumn("op", F.lit("upsert"))
        .unionByName(
            first.where(F.col("doc_id") % 10 == 0).withColumn(
                "op", F.lit("delete")
            )
        )
    )
    for name in ("idx_bm25m_tokens", "idx_bm25m_doclen"):
        eng.apply_changes_durable(
            name, changes, doc_id_col="doc_id", op_col="op"
        )

    # cold reopen, serve, compare against a from-scratch scan over the
    # survivor corpus — same fixed-order scoring, so rows must be EQUAL
    fresh = MapIndexEngine(spark)
    tok = fresh.load_index(str(tmp_path / "tokens"))
    dlen = fresh.load_index(str(tmp_path / "doclen"))
    served = bm25_from_indexes(tok, dlen).collect()

    survivors = docs.where(F.col("doc_id") % 10 != 0)
    expected = bm25_scan_over(survivors).collect()

    assert [tuple(r) for r in served] == [tuple(r) for r in expected]
    assert len(served) > 0


def test_streaming_search_index_maintenance_one_stream_two_sinks(
    spark, docs, tmp_path
):
    """The full search topology on the existing machinery: ONE document
    mutation stream + ONE checkpoint maintains BOTH search indexes on
    storage (bootstrapped EMPTY — the whole corpus arrives through the
    feed, the last file retracts every doc_id % 13 == 0), killed after a
    2-file prefix and resumed on a new session. BM25 served from the
    maintained indexes must equal the scan-served ranking over the
    survivors."""
    from mapreduceindex_demo_spark.streaming.maintenance import (
        DOC_CDC_SCHEMA,
        materialize_document_cdc_files,
        run_streaming_index_maintenance,
        search_index_defns,
    )

    cdc = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    paths = {
        "idx_search_tokens": str(tmp_path / "tokens"),
        "idx_search_doclen": str(tmp_path / "doclen"),
    }

    materialize_document_cdc_files(spark, PARITY_SF_DIR, cdc, n_files=4, upto_file=2)
    states = run_streaming_index_maintenance(
        spark, cdc, ckpt, search_index_defns(), DOC_CDC_SCHEMA,
        index_paths=paths, doc_id_col="doc_id", seq_col=None,
    )
    assert states["idx_search_tokens"].count() > 0  # phase-1 engine dropped

    materialize_document_cdc_files(spark, PARITY_SF_DIR, cdc, n_files=4)
    s2 = spark.newSession()
    states = run_streaming_index_maintenance(
        s2, cdc, ckpt, search_index_defns(), DOC_CDC_SCHEMA,
        index_paths=paths, doc_id_col="doc_id", seq_col=None,
    )

    served = bm25_from_indexes(
        states["idx_search_tokens"], states["idx_search_doclen"]
    ).collect()
    survivors = load_table(s2, PARITY_SF_DIR, "documents").where(
        F.col("doc_id") % 13 != 0
    )
    expected = bm25_scan_over(survivors).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in expected]
    assert len(served) > 0


def test_prefix_scan_pushes_range_and_skips_sort(spark, docs, tmp_path):
    """The prefix query's serving scan must (a) push the [low, high) range
    to the durable parquet scan (row-group pruning via the key-sorted
    bucket layout), (b) never read the corpus text, and (c) carry NO Sort
    when ordered=False — the aggregation would destroy the order anyway."""
    eng = MapIndexEngine(spark)
    eng.create_index(
        IndexDefn(
            name="idx_pfx",
            bucket="documents",
            sec_exprs=("split(text, ' ')",),
            is_array_index=True,
        ),
        docs,
        doc_id_col="doc_id",
    )
    path = str(tmp_path / "pfx")
    eng.save_index("idx_pfx", path, buckets=4)

    fresh = MapIndexEngine(spark)
    fresh.load_index(path)
    from mapreduceindex_demo_spark.mapindex import INCL_LOW

    hits = fresh.scan("idx_pfx", low="s", high="t", inclusion=INCL_LOW, ordered=False)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(key_0,s)" in plan
    assert "LessThan(key_0,t)" in plan
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert "Sort " not in plan

    # unordered + limit is an API misuse, not a silent wrong answer
    with pytest.raises(ValueError, match="limit requires ordered"):
        fresh.scan("idx_pfx", low="s", limit=5, ordered=False)

    # ordered scan over the same range still sorts (regression guard)
    oplan = fresh.scan("idx_pfx", low="s", high="t", inclusion=INCL_LOW)
    assert "Sort " in oplan._jdf.queryExecution().executedPlan().toString()
