"""Spark side of the generated corpus: turning the model's documents and
CDC batches into DataFrames, creating the indexed structures, and
comparing the engine's state with the model."""

from __future__ import annotations

from collections import Counter

from perfbench.cdc_model import (
    EXPR_INDEX,
    EXPR_KEYS,
    EXPR_WHERE,
    FN_INDEX,
    VIEW,
    Change,
    on_map,
)

SOURCE_SCHEMA = "doc_id long, seq long, body string"
CHANGE_SCHEMA = "doc_id long, seq long, op string, body string"
APPLY_ARGS = {"doc_id_col": "doc_id", "op_col": "op", "seq_col": "seq"}


def source_df(spark, rows):
    return spark.createDataFrame(rows, SOURCE_SCHEMA)


def changes_df(spark, batch: list[Change]):
    return spark.createDataFrame(
        [(c.doc_id, c.seq, c.op, c.body) for c in batch], CHANGE_SCHEMA
    )


def create_structures(engine, src) -> None:
    """Create both indexes and the reduce view over ``src`` and commit
    them."""
    from mapreduceindex_demo_spark.catalog import IndexDefn

    engine.register_function("tag_map", on_map)
    engine.create_index(
        IndexDefn(
            name=FN_INDEX,
            bucket="docs",
            func_name="tag_map",
            key_types=("string", "int"),
        ),
        src,
        "doc_id",
        "seq",
    )
    engine.create_index(
        IndexDefn(
            name=EXPR_INDEX,
            bucket="docs",
            sec_exprs=EXPR_KEYS,
            where_expr=EXPR_WHERE,
        ),
        src,
        "doc_id",
        "seq",
    )
    engine.create_reduce_view(VIEW, EXPR_INDEX, ["key_0"], sum_col="key_1")
    for name in (FN_INDEX, EXPR_INDEX):
        engine.checkpoint_state(name)


def index_entries(engine, name: str) -> Counter:
    return Counter(
        (r["key_0"], r["key_1"], r["doc_id"])
        for r in engine.index_table(name).collect()
    )


def view_table(engine) -> dict[str, tuple[int, int]]:
    return view_rows_of(engine.reduce_view_table(VIEW).collect())


def view_rows_of(rows) -> dict[str, tuple[int, int]]:
    return {r["key_0"]: (r["cnt"], r["total"]) for r in rows}
