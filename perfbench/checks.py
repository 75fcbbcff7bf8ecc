"""The comparisons behind every correctness check, free of Spark so that
the benchmark's tests can perturb their inputs."""

from __future__ import annotations

from collections import Counter


def oracle_rows_match(rows, cols, oracle_rows, oracle_cols) -> bool:
    """Query rows equal the DuckDB oracle's: same column names, same rows
    as a multiset, normalized the way ``scripts/driver_sim.py`` does."""
    from scripts.driver_sim import _sorted_rows

    return sorted(cols) == sorted(oracle_cols) and _sorted_rows(
        rows, cols
    ) == _sorted_rows(oracle_rows, oracle_cols)


def entries_match(engine: Counter, model: Counter) -> bool:
    """Index entries ``(key_0, key_1, doc_id)`` equal as multisets."""
    return Counter(engine) == Counter(model)


def view_match(engine: dict, model: dict) -> bool:
    """Reduce-view rows ``group -> (cnt, total)`` equal."""
    return dict(engine) == dict(model)


def scan_ok(keys: list[tuple], low, high, want: list[tuple], low_excl: bool) -> bool:
    """A scan's key tuples are in index order, inside ``[low, high]``
    (``low`` exclusive for a keyset page), and equal the model's."""

    def inside(k):
        lo, hi = k[: len(low)], k[: len(high)]
        return (lo > tuple(low) if low_excl else lo >= tuple(low)) and hi <= tuple(high)

    return keys == sorted(keys) and all(inside(k) for k in keys) and keys == want
