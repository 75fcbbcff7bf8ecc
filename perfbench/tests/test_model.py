"""Tests of the benchmark's reference computations: the pure-Python CDC
model, the map functions and the comparisons behind every check.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository
root; no Spark session is started.
"""

from __future__ import annotations

import json
from collections import Counter

from perfbench.cdc_model import (
    CdcModel,
    Change,
    emits_for,
    expr_entries,
    first_keys,
    fn_entries,
    on_map,
    view_rows,
)
from perfbench.checks import entries_match, oracle_rows_match, scan_ok, view_match


def body(kind="item", cat="c01", price=10, tags=("t01",)) -> str:
    return json.dumps({"kind": kind, "cat": cat, "price": price, "tags": list(tags)})


def model_with(docs: dict[int, str]) -> CdcModel:
    m = CdcModel(seed=0)
    m.docs = dict(docs)
    m.next_id = max(docs, default=-1) + 1
    return m


def test_last_change_by_seq_wins_within_a_batch():
    m = model_with({1: body(price=1)})
    # rows arrive out of seq order; seq 7 is the last change
    final = m.apply(
        [
            Change(1, 7, "upsert", body(price=7)),
            Change(1, 5, "delete", None),
            Change(1, 6, "upsert", body(price=6)),
        ]
    )
    assert final == {1: body(price=7)}
    assert expr_entries(m.docs) == Counter({("c01", 7, 1): 1})


def test_where_false_upsert_retracts():
    m = model_with({1: body(kind="item", tags=("t01", "t02"))})
    assert sum(fn_entries(m.docs).values()) == 2
    assert sum(expr_entries(m.docs).values()) == 1
    final = m.apply([Change(1, 2, "upsert", body(kind="note"))])
    assert fn_entries(m.docs) == Counter()
    assert expr_entries(m.docs) == Counter()
    assert emits_for(final) == (0, 0)
    assert 1 in m.docs  # the document lives on, it just indexes nothing


def test_delete_then_reinsert():
    m = model_with({1: body(price=1)})
    m.apply([Change(1, 2, "delete", None)])
    assert m.docs == {} and m.deleted == [1]
    final = m.apply([Change(1, 3, "upsert", body(price=3))])
    assert final == {1: body(price=3)} and m.deleted == []
    assert expr_entries(m.docs) == Counter({("c01", 3, 1): 1})
    # the same inside one batch: the re-insert has the later seq
    m.apply([Change(1, 4, "delete", None), Change(1, 5, "upsert", body(price=5))])
    assert expr_entries(m.docs) == Counter({("c01", 5, 1): 1})


def test_zero_and_several_emits():
    assert on_map({}, {"body": body(tags=())}) == []
    assert on_map({}, {"body": body(kind="note", tags=("t01",))}) == []
    assert on_map({}, {"body": body(kind="bundle", price=4, tags=("t01", "t02", "t03"))}) == [
        ("t01", 4),
        ("t02", 4),
        ("t03", 4),
    ]
    docs = {1: body(tags=()), 2: body(kind="bundle", tags=("t01", "t02"))}
    # doc 1 is an item without tags: no function-index entry, one expression entry
    assert fn_entries(docs) == Counter({("t01", 10, 2): 1, ("t02", 10, 2): 1})
    assert expr_entries(docs) == Counter({("c01", 10, 1): 1})
    assert emits_for({1: docs[1], 2: docs[2], 3: None}) == (2, 1)


def test_generated_batches_mix_every_case():
    m = CdcModel(seed=3)
    m.initial_corpus(500)
    seen = Counter()
    for _ in range(5):
        batch = m.make_batch(200)
        ids = Counter(c.doc_id for c in batch)
        seen["twice"] += sum(1 for n in ids.values() if n > 1)
        seen["delete"] += sum(c.op == "delete" for c in batch)
        seen["insert"] += sum(c.doc_id not in m.docs and c.op == "upsert" for c in batch)
        m.apply(batch)
    assert all(seen[k] > 0 for k in ("twice", "delete", "insert"))
    assert CdcModel(seed=3).initial_corpus(50) == CdcModel(seed=3).initial_corpus(50)


def test_view_and_first_keys():
    docs = {
        1: body(cat="c01", price=5),
        2: body(cat="c01", price=3),
        3: body(cat="c02", price=9),
        4: body(cat="c03", price=1),
        5: body(kind="note", cat="c01"),
    }
    assert view_rows(docs) == {"c01": (2, 8), "c02": (1, 9), "c03": (1, 1)}
    e = expr_entries(docs)
    assert first_keys(e, ["c01"], ["c02"], 10) == [("c01", 3), ("c01", 5), ("c02", 9)]
    assert first_keys(e, ["c01"], ["c03"], 2) == [("c01", 3), ("c01", 5)]
    # keyset page strictly after the last key read
    assert first_keys(e, ["c01", 5], ["c03"], 2, low_excl=True) == [("c02", 9), ("c03", 1)]


# -- each check fails when one row is perturbed ---------------------------


def test_entries_check_catches_one_perturbed_row():
    model = Counter({("t01", 3, 1): 1, ("t02", 3, 1): 1, ("t01", 4, 2): 1})
    assert entries_match(Counter(model), model)
    for row in model:
        bad = Counter(model)
        bad[row] -= 1
        bad[(row[0], row[1] + 1, row[2])] += 1
        assert not entries_match(+bad, model)
        assert not entries_match(model, +bad)
    dup = Counter(model)
    dup[("t01", 3, 1)] += 1
    assert not entries_match(dup, model)


def test_view_check_catches_one_perturbed_row():
    model = {"c01": (2, 8), "c02": (1, 9)}
    assert view_match(dict(model), model)
    assert not view_match({**model, "c01": (2, 9)}, model)
    assert not view_match({**model, "c02": (2, 9)}, model)
    assert not view_match({"c01": (2, 8)}, model)


def test_scan_check_catches_order_bounds_and_rows():
    want = [("c01", 3), ("c01", 5), ("c02", 9)]
    assert scan_ok(list(want), ["c01"], ["c02"], want, low_excl=False)
    assert not scan_ok([want[1], want[0], want[2]], ["c01"], ["c02"], want, False)
    assert not scan_ok([("c01", 3), ("c01", 6), ("c02", 9)], ["c01"], ["c02"], want, False)
    assert not scan_ok(want, ["c01"], ["c02"], want[:2] + [("c02", 8)], False)
    out_of_range = [("c00", 1)] + want[1:]
    assert not scan_ok(out_of_range, ["c01"], ["c02"], out_of_range, False)
    assert not scan_ok(want, ["c01", 3], ["c02"], want, low_excl=True)


def test_oracle_check_catches_one_perturbed_row():
    cols = ["k", "v"]
    rows = [(1, 2.5), (2, None), (3, 7.0)]
    oracle = [(3, 7.0), (1, 2.5), (2, None)]
    assert oracle_rows_match(rows, cols, oracle, cols)
    # integer and float spellings of one value normalize alike
    assert oracle_rows_match([(1, 2)], cols, [(1, 2.0)], cols)
    # column order does not matter, names do
    assert oracle_rows_match([(2.5, 1)], ["v", "k"], [(1, 2.5)], cols)
    assert not oracle_rows_match(rows, cols, oracle, ["k", "w"])
    for i in range(len(rows)):
        bad = list(rows)
        bad[i] = (bad[i][0], 99.0)
        assert not oracle_rows_match(bad, cols, oracle, cols)
        bad_oracle = list(oracle)
        bad_oracle[i] = (bad_oracle[i][0] + 10, bad_oracle[i][1])
        assert not oracle_rows_match(rows, cols, bad_oracle, cols)
    assert not oracle_rows_match(rows[:2], cols, oracle, cols)
