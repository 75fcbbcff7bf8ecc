"""Independent recomputation for the k-core decomposition
([q:graph_kcore_decomposition]): pure-Python peeling over the same
parquet, the convergence certificate, and the semi-join plan contract."""

from __future__ import annotations

import duckdb

from mapreduceindex_demo_spark.plans import QUERIES
from mapreduceindex_demo_spark.plans.graph_queries import _KCORE_K, _KCORE_ROUNDS
from tests.conftest import PARITY_SF_DIR


def _trade_edges():
    con = duckdb.connect()
    rows = con.sql(
        f"""
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS u,
               's' || CAST(l_suppkey AS VARCHAR) AS v
        FROM read_parquet('{PARITY_SF_DIR}/lineitem.parquet') l
        JOIN read_parquet('{PARITY_SF_DIR}/orders.parquet') o
          ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()
    edges = set()
    for u, v in rows:
        edges.add((u, v))
        edges.add((v, u))
    return edges


def _peel(edges: set, k: int) -> set:
    from collections import Counter

    deg = Counter(u for u, _ in edges)
    keep = {u for u, c in deg.items() if c >= k}
    return {(u, v) for u, v in edges if u in keep and v in keep}


def test_kcore_matches_pure_python_peeling(spark):
    edges = _trade_edges()
    expected = [(0, len({u for u, _ in edges}), len(edges) // 2)]
    cur = edges
    for r in range(1, _KCORE_ROUNDS + 1):
        cur = _peel(cur, _KCORE_K)
        expected.append((r, len({u for u, _ in cur}), len(cur) // 2))
    got = [
        (r.round, r.n_nodes, r.n_edges)
        for r in QUERIES["graph_kcore_decomposition"].fn(spark, PARITY_SF_DIR).collect()
    ]
    assert got == expected
    # the peel genuinely bites (round 1 removes nodes) ...
    assert got[1][1] < got[0][1]
    # ... and the fixpoint certificate holds: converged inside the
    # unrolled rounds (the operator's documented contract)
    assert got[-1] == (_KCORE_ROUNDS, got[-2][1], got[-2][2])
    # the k-core is non-empty — k wasn't chosen degenerate
    assert got[-1][1] > 0


def test_kcore_plan_semi_joins_no_cartesian(spark):
    """Each peel round must be equi-join shaped: semi joins on node keys
    (LeftSemi), never a CartesianProduct; the per-round persists keep
    later rounds from replaying earlier ones (InMemoryTableScan
    present)."""
    df = QUERIES["graph_kcore_decomposition"].fn(spark, PARITY_SF_DIR)
    df.collect()
    # the peel rounds live inside the per-round cached relations, whose
    # nested plans print AFTER the top-level "== Initial Plan ==" marker —
    # search the WHOLE string, unlike the scan-shaped siblings
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "InMemoryTableScan" in plan, plan


def test_kcore_drained_core_counts_zero_edges(spark, tmp_path):
    """A graph with no node of degree >= k peels to an empty core: the
    drained rounds serve 0 nodes and 0 edges (not a NULL edge count),
    exactly like the oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduceindex_demo_spark.plans.graph_queries import _kcore_oracle

    # one order per customer, three suppliers each: every degree is
    # far below k
    orders = pa.table({"o_orderkey": [1, 2, 3], "o_custkey": [10, 20, 30]})
    lineitem = pa.table(
        {"l_orderkey": [1, 1, 2, 2, 3, 3], "l_suppkey": [5, 6, 5, 7, 6, 7]}
    )
    pq.write_table(orders, tmp_path / "orders.parquet")
    pq.write_table(lineitem, tmp_path / "lineitem.parquet")
    got = [
        tuple(r)
        for r in QUERIES["graph_kcore_decomposition"].fn(spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    for name in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tmp_path / (name + '.parquet')}')"
        )
    want = [tuple(r) for r in con.sql(_kcore_oracle()).fetchall()]
    assert want[0] == (0, 6, 6)
    assert want[1:] == [(r, 0, 0) for r in range(1, _KCORE_ROUNDS + 1)]
    assert got == want
