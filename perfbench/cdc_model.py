"""Seeded document corpus, CDC stream and the pure-Python model of what
the map-index engine must hold after each batch.

Nothing here imports Spark or the engine: the model is the independent
computation the ``cdc_serve`` checks compare the engine's state, views
and scans against.

Documents are JSON strings. Three structures are maintained over them:

- ``tags``: a function index. ``on_map`` parses the body and emits one
  ``(tag, price)`` key per tag of an ``item`` or ``bundle``; any other
  kind, or an item without tags, emits nothing (the WHERE-false case).
- ``cat_price``: an expression index on ``(cat, price)`` with
  ``WHERE kind = 'item'``.
- ``cat_totals``: a reduce view over ``cat_price`` grouped by ``cat``
  with ``cnt`` and ``total`` (sum of price).
"""

from __future__ import annotations

import json
import random
from collections import Counter
from dataclasses import dataclass, field

KINDS = ("item", "item", "item", "bundle", "note")
N_CATS, N_TAGS = 40, 30
#: shares of updates, inserts and deletes in a batch, and the share of
#: changes that are a second change to a document already in the batch
MIX = (0.7, 0.15, 0.15)
TWICE = 0.05

FN_INDEX, EXPR_INDEX, VIEW = "tags", "cat_price", "cat_totals"
EXPR_KEYS = (
    "get_json_object(body, '$.cat')",
    "cast(get_json_object(body, '$.price') as int)",
)
EXPR_WHERE = "get_json_object(body, '$.kind') = 'item'"


def on_map(meta, doc):
    """The function index's map: zero or several ``(tag, price)`` emits."""
    d = json.loads(doc["body"])
    if d["kind"] not in ("item", "bundle"):
        return []
    return [(t, d["price"]) for t in d["tags"]]


def expr_entry(body: str):
    """The expression index's map: one ``(cat, price)`` key or none."""
    d = json.loads(body)
    return (d["cat"], d["price"]) if d["kind"] == "item" else None


def make_body(rng: random.Random) -> str:
    kind = rng.choice(KINDS)
    n_tags = rng.choice((0, 1, 2, 2, 3, 4))
    tags = sorted(rng.sample(range(N_TAGS), n_tags))
    return json.dumps(
        {
            "kind": kind,
            "cat": f"c{rng.randrange(N_CATS):02d}",
            "price": rng.randrange(1, 1000),
            "tags": [f"t{t:02d}" for t in tags],
        },
        separators=(",", ":"),
    )


@dataclass
class Change:
    doc_id: int
    seq: int
    op: str  # "upsert" | "delete"
    body: str | None


@dataclass
class CdcModel:
    """Live documents by id, advanced one CDC batch at a time."""

    seed: int
    docs: dict[int, str] = field(default_factory=dict)
    next_id: int = 0
    seq: int = 0
    deleted: list[int] = field(default_factory=list)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)

    # -- inputs -----------------------------------------------------------

    def initial_corpus(self, n_docs: int) -> list[tuple[int, int, str]]:
        rows = []
        for _ in range(n_docs):
            self.seq += 1
            body = make_body(self.rng)
            self.docs[self.next_id] = body
            rows.append((self.next_id, self.seq, body))
            self.next_id += 1
        return rows

    def make_batch(self, size: int) -> list[Change]:
        """``size`` changes: updates, inserts and deletes in ``MIX``
        shares; a ``TWICE`` share of them is a second change to a document
        already changed in this batch (the later seq wins). Some inserts
        re-insert previously deleted ids."""
        rng = self.rng
        live = list(self.docs)
        out: list[Change] = []
        touched: list[int] = []
        for _ in range(size):
            self.seq += 1
            if touched and rng.random() < TWICE:
                d = rng.choice(touched)
                if rng.random() < 0.5:
                    out.append(Change(d, self.seq, "delete", None))
                else:
                    out.append(Change(d, self.seq, "upsert", make_body(rng)))
                continue
            r = rng.random()
            if r < MIX[0] and live:
                d = rng.choice(live)
                out.append(Change(d, self.seq, "upsert", make_body(rng)))
            elif r < MIX[0] + MIX[1] or not live:
                if self.deleted and rng.random() < 0.3:
                    d = self.deleted.pop(rng.randrange(len(self.deleted)))
                else:
                    d, self.next_id = self.next_id, self.next_id + 1
                out.append(Change(d, self.seq, "upsert", make_body(rng)))
            else:
                d = rng.choice(live)
                out.append(Change(d, self.seq, "delete", None))
            touched.append(d)
        return out

    # -- the model ----------------------------------------------------------

    def apply(self, batch: list[Change]) -> dict[int, str | None]:
        """Apply a batch: the last change per doc by seq wins. Returns the
        winning state per changed doc (None = deleted)."""
        last: dict[int, Change] = {}
        for c in batch:
            if c.doc_id not in last or c.seq > last[c.doc_id].seq:
                last[c.doc_id] = c
        final: dict[int, str | None] = {}
        for d, c in last.items():
            if c.op == "delete":
                if self.docs.pop(d, None) is not None:
                    self.deleted.append(d)
                final[d] = None
            else:
                if d in self.deleted:
                    self.deleted.remove(d)
                self.docs[d] = c.body
                final[d] = c.body
        return final


def fn_entries(docs: dict[int, str]) -> Counter:
    """Multiset of ``(tag, price, doc_id)`` function-index entries."""
    out: Counter = Counter()
    for d, body in docs.items():
        for k in on_map({"id": str(d)}, {"body": body}):
            out[(*k, d)] += 1
    return out


def expr_entries(docs: dict[int, str]) -> Counter:
    """Multiset of ``(cat, price, doc_id)`` expression-index entries."""
    out: Counter = Counter()
    for d, body in docs.items():
        k = expr_entry(body)
        if k is not None:
            out[(*k, d)] += 1
    return out


def view_rows(docs: dict[int, str]) -> dict[str, tuple[int, int]]:
    """``cat -> (cnt, total)`` of the reduce view over ``cat_price``."""
    agg: dict[str, list[int]] = {}
    for cat, price, _ in expr_entries(docs):
        a = agg.setdefault(cat, [0, 0])
        a[0] += 1
        a[1] += price
    return {k: (c, t) for k, (c, t) in agg.items()}


def emits_for(final: dict[int, str | None]) -> tuple[int, int]:
    """Entries a batch must insert into (function, expression) index."""
    fn = ex = 0
    for d, body in final.items():
        if body is None:
            continue
        fn += len(on_map({"id": str(d)}, {"body": body}))
        ex += expr_entry(body) is not None
    return fn, ex


def first_keys(entries: Counter, low, high, limit: int, low_excl: bool = False):
    """The first ``limit`` key tuples of a two-part index in key order,
    between ``low`` and ``high``. ``low``/``high`` are 1- or 2-part key
    prefixes compared the way the engine's range scan compares them."""

    def ge_low(k):
        p = k[: len(low)]
        return p > tuple(low) if low_excl else p >= tuple(low)

    keys = sorted(
        k[:2]
        for k, n in entries.items()
        for _ in range(n)
        if ge_low(k[:2]) and k[: len(high)] <= tuple(high)
    )
    return keys[:limit]
