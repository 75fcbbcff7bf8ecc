"""Graph-analytics queries (round 8): PageRank over a derived entity graph.

The suite's iterative-operator family had one member (connected components,
operators/graph.py — the dedup-cluster closer). PageRank is the second
classic Pregel shape: rank mass flows along edges for a fixed number of
power iterations. Curation pipelines use exactly this operator for
authority/centrality weighting of interlinked corpora (e.g. link-graph
quality priors for web crawl data à la Common Crawl harmonic centrality);
the demo graph here is the customer↔supplier trade graph (who trades with
whom, weighted by line-item count) since the testdata has no link column.

The reference has no iterative operator at all (its only loop is the
per-document map pipeline, SURVEY §2.2) — like components, this is
engine-completeness work beyond the reference surface.

Determinism: the all-integer formulation in operators/graph.py::pagerank —
rank mass on a 1e12-unit integer grid, integer-division contributions and
teleport base, so both engines reach a bit-identical fixed point and the
value-hash parity check is exact (no float summation order anywhere).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceindex_demo_spark.operators.graph import (
    pagerank,
    symmetrize,
    triangle_stats,
)
from mapreduceindex_demo_spark.plans.registry import query
from mapreduceindex_demo_spark.session import load_table

_PR_ITERS = 5
_PR_DAMP = 85  # percent
_PR_SCALE = 10**12
_PR_TOPK = 10


def _trade_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders — one row per line item with its customer
    (``o_custkey``) and supplier (``l_suppkey``): the edge source of
    every trade-graph query."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return li.join(orders, li.l_orderkey == orders.o_orderkey)


# The integer trade-graph node codec (r16): in flight a customer k is node
# 2k and a supplier k is node 2k+1, a bijection with the oracles'
# 'c…'/'s…' strings. Integer keys halve the shuffled key bytes and hash as
# longs; fixed points and counts are invariant under the relabeling, and
# the strings are decoded on |V|-row frames BEFORE any order-by, so string
# tie-breaks are unchanged.
def _trade_ids() -> tuple[Column, Column]:
    """(customer node, supplier node) over :func:`_trade_lines` rows."""
    return F.col("o_custkey") * 2, F.col("l_suppkey") * 2 + 1


def _trade_name(side: str | None = None) -> Column:
    """Integer column ``node`` decoded to its 'c…'/'s…' string; ``side``
    ('c' or 's') skips the parity test when every node is on one side."""
    cust = F.concat(F.lit("c"), F.expr("node div 2").cast("string"))
    supp = F.concat(F.lit("s"), F.expr("(node - 1) div 2").cast("string"))
    if side is not None:
        return cust if side == "c" else supp
    return F.when(F.col("node") % 2 == 0, cust).otherwise(supp)


def _pr_power_steps() -> tuple[str, str]:
    """The integer power-iteration CTE chain, spelled ONCE for every
    PageRank-family oracle ([q:graph_pagerank_topk],
    [q:text_textrank_keywords]) over the shared (e, n, r0) relational
    prelude: returns (steps_sql, final_cte_name)."""
    base = f"(SELECT ({100 - _PR_DAMP} * CAST({_PR_SCALE} AS BIGINT)) // (100 * n) FROM n)"
    steps = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"r{i} AS (SELECT e.v AS node, {base} + CAST(SUM((r.r * {_PR_DAMP} * e.w)"
            f" // (100 * e.outw)) AS BIGINT) AS r"
            f" FROM e JOIN {prev} r ON e.u = r.node GROUP BY 1)"
        )
        prev = f"r{i}"
    return ",\n    ".join(steps), prev


def _pr_oracle() -> str:
    steps_sql, prev = _pr_power_steps()
    return f"""
    WITH raw AS (
      SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    sym AS (SELECT src AS u, dst AS v, w FROM raw
            UNION ALL
            SELECT dst AS u, src AS v, w FROM raw),
    ow AS (SELECT u, CAST(SUM(w) AS BIGINT) AS outw FROM sym GROUP BY 1),
    e AS (SELECT sym.u, sym.v, sym.w, ow.outw FROM sym JOIN ow USING (u)),
    n AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n FROM sym),
    r0 AS (SELECT u AS node,
                  (SELECT CAST({_PR_SCALE} AS BIGINT) // n FROM n) AS r
           FROM (SELECT DISTINCT u FROM sym)),
    {steps_sql}
    SELECT node, r AS rank_e12,
           round(CAST(r AS DOUBLE) / {_PR_SCALE}.0, 9) + 0.0 AS rank
    FROM {prev}
    ORDER BY r DESC, node
    LIMIT {_PR_TOPK}
    """


_TRI_ORACLE = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
            FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
            GROUP BY 1),
    o AS (SELECT CASE WHEN x.deg <= y.deg THEN und.a ELSE und.b END AS s,
                 CASE WHEN x.deg <= y.deg THEN und.b ELSE und.a END AS t
          FROM und JOIN deg x ON x.n = und.a JOIN deg y ON y.n = und.b),
    tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM (SELECT e1.s AS x, e2.t AS z
                  FROM o e1 JOIN o e2 ON e1.t = e2.s) w
            JOIN o c ON c.s = w.x AND c.t = w.z),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                    CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
             FROM deg),
    ecnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges = 0 THEN 0.0
                ELSE round(3.0 * CAST(n_triangles AS DOUBLE)
                           / CAST(n_wedges AS DOUBLE), 9) + 0.0
           END AS global_clustering
    FROM base CROSS JOIN ecnt CROSS JOIN tri
    """


@query(
    "graph_triangle_count",
    oracle=_TRI_ORACLE,
    tags=("graph", "triangle", "clustering"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the part co-occurrence graph (parts joined
    by appearing in the same order) — nodes, edges, wedges, triangles and
    the global clustering coefficient 3·T/W in one row. Co-occurrence
    triangles are the standard community-density signal for corpus/link
    graphs (e.g. pruning auto-generated link farms whose clustering is
    near 0 or near 1); the trade tables stand in for the link graph the
    same way they do for [q:graph_pagerank_topk].

    Like PageRank and connected components this is engine-completeness
    work past the reference surface — its only loop is the per-document
    map pipeline (SURVEY §2.2), with no graph operator anywhere.

    All four counts are BIGINT and the clustering coefficient is one
    double division rounded to 9dp, so cross-engine hash parity is exact.
    See operators/graph.py::triangle_stats for the degree-ordered
    orientation that bounds the wedge join's fan-out by the oriented
    out-degree (≤ √(2|E|)) — the "curse of the last reducer" fix that
    makes the plan survive heavy-hitter nodes at 100 TB."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
    )
    stats = triangle_stats(pairs)
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CASE WHEN n_wedges = 0 THEN 0.0 "
            "ELSE round(3.0 * CAST(n_triangles AS DOUBLE) "
            "/ CAST(n_wedges AS DOUBLE), 9) + 0.0 END"
        ).alias("global_clustering"),
    )


@query(
    "graph_pagerank_topk",
    oracle=_pr_oracle(),
    tags=("graph", "iterative", "pagerank"),
)
def q_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nodes of the customer↔supplier trade graph by 5-iteration
    weighted PageRank (damping 0.85). Edges: one undirected edge per
    (customer, supplier) pair that shares a line item, weighted by how
    many — the multi-edge aggregation happens BEFORE the operator (its
    documented overflow contract). See operators/graph.py::pagerank for
    the all-integer determinism and Pregel scale-shape notes; the one
    engine-side divergence risk (SUM of BIGINT widening to HUGEINT in
    DuckDB) is pinned back to BIGINT on both sides.

    Scale shape: edge derivation is one fact-table groupBy; each of the 5
    iterations is one O(|E|) equi-join + one map-side-combinable
    groupBy(dst) — the checkpointed edge list is scanned per round, never
    rebuilt; N and the teleport base ride 1-row broadcasts. At 100 TB
    parallelism is |V| hash partitions per round, the GraphX/Pregel
    communication pattern on DataFrames. r16 optimization (measured
    6.5 s → 4.1 s at sf0.1, identical rows): nodes ride the five rounds
    as INTEGER ids (``_trade_ids``) and the contract's 'c…'/'s…' strings
    are reconstructed on the |V|-row rank frame BEFORE the top-k
    order-by, so the (rank DESC, node string ASC) tie-break is exactly
    the pre-r16 one."""
    cust, supp = _trade_ids()
    edges = (
        _trade_lines(spark, sf_dir)
        .groupBy(cust.alias("src"), supp.alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    ranks = pagerank(
        edges, iters=_PR_ITERS, damping_pct=_PR_DAMP, scale=_PR_SCALE
    )
    return (
        ranks.select(_trade_name().alias("node"), "rank_e12")
        .orderBy(F.desc("rank_e12"), F.asc("node"))
        .limit(_PR_TOPK)
        .select(
            "node",
            "rank_e12",
            (
                F.round(F.col("rank_e12").cast("double") / F.lit(float(_PR_SCALE)), 9)
                + F.lit(0.0)
            ).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# round 13b: k-core decomposition (degeneracy peeling)
# ---------------------------------------------------------------------------

#: the core order served. 10 bites at every test SF (the trade graph's
#: low-degree tail sits under it at sf0.001/0.01/0.1) while leaving a
#: non-empty core.
_KCORE_K = 10
#: fixed peel rounds, unrolled identically on both engines. The peel is a
#: monotone fixpoint (edge sets only shrink); on the trade graph it
#: converges well inside 4 rounds at every test SF (asserted in
#: tests/test_graph_kcore.py) — the served per-round trajectory makes
#: non-convergence visible (last two rows would differ).
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled peeling in DuckDB. Every round's edge set is MATERIALIZED:
    each round references its predecessor THREE times (degree table + both
    endpoint filters), so default CTE inlining would re-evaluate the
    fact-table join 3^rounds times (the [q:embedding_anisotropy_abtt]
    lesson)."""
    steps, prev = [], "e0"
    for r in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""
    d{r} AS MATERIALIZED (SELECT u FROM (SELECT u, COUNT(*) AS c
                          FROM {prev} GROUP BY 1) WHERE c >= {_KCORE_K}),
    e{r} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e
                          JOIN d{r} a ON e.u = a.u
                          JOIN d{r} b ON e.v = b.u)""")
        prev = f"e{r}"
    rows = "\n      UNION ALL ".join(
        f"SELECT {r} AS round,"
        f" CAST((SELECT COUNT(DISTINCT u) FROM e{r}) AS BIGINT) AS n_nodes,"
        f" CAST((SELECT COUNT(*) FROM e{r}) // 2 AS BIGINT) AS n_edges"
        for r in range(_KCORE_ROUNDS + 1)
    )
    return f"""
    WITH raw AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS u,
                        's' || CAST(l_suppkey AS VARCHAR) AS v
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e0 AS MATERIALIZED (SELECT u, v FROM raw
                        UNION ALL SELECT v AS u, u AS v FROM raw),
    {",".join(steps)}
    SELECT * FROM ({rows}) ORDER BY round
    """


@query(
    "graph_kcore_decomposition",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative", "kcore"),
    bench=True,  # r14: the widest with-scale WIN joins the per-round series (r13 verdict item 3)
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the trade graph — degeneracy peeling
    (Seidman 1983; Batagelj-Zaveršnik 2003): repeatedly delete every
    node with degree < k until only the k-core remains, serving the
    per-round (nodes, edges) trajectory from the full graph (round 0)
    to the ``_KCORE_K``-core. The fourth classic graph operator beside
    components, PageRank, and the triangle census: dedup/contamination
    pipelines read the core as the "densely corroborated" subgraph
    (entities linked by many independent co-occurrences) and the peeled
    tail as the weakly-attached periphery a crawl-quality prior
    down-weights — and the trajectory itself is the graph-health
    dashboard (a boilerplate flood shows up as a fat early peel).

    Determinism: degrees and counts are exact integers over a DISTINCT
    edge set; no floats anywhere. Both engines peel the identical
    unrolled rounds; the monotone edge-set shrinkage makes the round
    trajectory a fixpoint certificate (equal last rows == converged,
    asserted at every test SF). Node identity (r16 optimization): the
    engine keys nodes as INTEGERS (``_trade_ids``) because the served
    rows are per-round COUNTS only, and counts are invariant under any
    relabeling (the peel trajectory depends on the degree function, not
    on names): measured 8.7 s → 4.5 s per execution at sf0.1
    (interleaved A/B, identical rows). The oracle deliberately keeps the
    string spelling — it is the naive-contract side.

    Scale shape: edge derivation is one fact-table join + DISTINCT
    (map-side combined); each peel round is one degree groupBy (combiner
    O(|V|)) plus two semi-join endpoint filters on the CURRENT edge set
    — all equi-joins on node keys, AQE broadcasts the survivor list when
    the periphery collapses to metadata size; each round's edge set
    persists MEMORY_ONLY so round i+1 and the stats rows never replay
    round i (the BPE per-round persist pattern). Nothing quadratic, no
    windows, parallelism |V| hash partitions per round — the same Pregel
    communication shape as [q:graph_pagerank_topk].

    Reference anchor: the reference engine has no iterative operator
    (SURVEY §2.2 — its only loop is the per-document map pipeline); like
    components/PageRank/triangles this is engine-completeness work
    beyond the reference surface."""
    cust, supp = _trade_ids()
    raw = (
        _trade_lines(spark, sf_dir)
        .select(cust.alias("u"), supp.alias("v"))
        .distinct()
    )
    # no distinct after symmetrizing: raw is already distinct and every
    # raw edge is (even, odd) while every reversed edge is (odd, even),
    # so the id parity makes cross-duplicates impossible (r16: the same
    # argument the 'c'/'s' prefixes used to carry) — a distinct here
    # would be a no-op costing one full exchange over 2|E| rows (r13b
    # review finding; the oracle's e0 is UNION ALL for the same reason).
    edges = symmetrize(raw, "u", "v").persist(StorageLevel.MEMORY_ONLY)

    # r17: per-round stats come from a degree table (one groupBy over the
    # round's CACHED edge set) instead of a separate countDistinct over
    # it. n_nodes(e_r) is the degree table's row count and n_edges(e_r)
    # is sum(degree)/2. The old spelling paid a 2-exchange countDistinct
    # expand over the corpus-sized cached edge set once per served round
    # — that work was the entire counted-vs-forced gap on this flag
    # (forced 1.41 s vs counted 0.82 s at sf0.1: Catalyst prunes an
    # ungrouped aggregate's expressions under count(), so only the
    # forced path executed it). The degree frame is deliberately NOT
    # persisted: under count() the stats reader is pruned away entirely
    # (one reader left — a persist is pure cache-fill overhead, measured
    # +0.7 s counted), and under forcing the second evaluation is one
    # exchange over an InMemoryTableScan, still cheaper than the expand
    # it replaces.
    def stats(deg, r):
        return deg.agg(
            F.lit(r).alias("round"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            # an empty edge set has no degrees: SUM gives NULL, the
            # oracle's COUNT(*) // 2 gives 0
            F.coalesce(F.sum("c") / 2, F.lit(0)).cast("long").alias("n_edges"),
        )

    def degree(e):
        return e.groupBy("u").agg(F.count(F.lit(1)).alias("c"))

    # r16 optimization: the peel runs EAGERLY, one count per round — the
    # count IS the round's persist-materialization job, so no extra pass —
    # and stops building new rounds at the fixpoint. The peel is a pure
    # FILTER of a monotone-shrinking edge set, so an unchanged count
    # proves set equality, and every remaining round's stats row is served
    # from the SAME cached frames (free InMemoryTableScan reads) instead
    # of re-running the degree groupBy + two semi-joins on an edge set
    # that cannot change. The trade graph converges by round 2 at every
    # test SF, so this removes half the rounds' work; the served
    # trajectory is bit-identical (the fixpoint rows equal their
    # predecessor, which is exactly what the oracle's unrolled rounds
    # produce).
    deg = degree(edges)
    out = stats(deg, 0)
    prev_n = edges.count()  # materializes the persisted base edge set
    converged = False
    for r in range(1, _KCORE_ROUNDS + 1):
        if not converged:
            survivors = deg.where(F.col("c") >= _KCORE_K).select("u")
            edges = (
                edges.join(survivors, "u", "left_semi")
                .join(survivors.select(F.col("u").alias("v")), "v", "left_semi")
                .persist(StorageLevel.MEMORY_ONLY)
            )
            n = edges.count()  # materializes this round's cache
            converged = n == prev_n
            prev_n = n
            deg = degree(edges)
        out = out.unionAll(stats(deg, r))
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# round 14: label-propagation communities (the fifth classic graph operator)
# ---------------------------------------------------------------------------

#: synchronous propagation rounds, unrolled identically on both engines
_LPA_ROUNDS = 4
_LPA_TOPN = 20


def _lpa_oracle() -> str:
    """Unrolled synchronous LPA in DuckDB. Rounds are MATERIALIZED (the
    [q:graph_kcore_decomposition] lesson: default CTE inlining would
    re-evaluate the edge join chain exponentially)."""
    steps, prev = [], "l0"
    for r in range(1, _LPA_ROUNDS + 1):
        steps.append(f"""
    c{r} AS MATERIALIZED (SELECT e.v AS node, l.label,
                                 CAST(COUNT(*) AS BIGINT) AS c
                          FROM e JOIN {prev} l ON e.u = l.node GROUP BY 1, 2),
    l{r} AS MATERIALIZED (SELECT node, label FROM
                           (SELECT node, label,
                              row_number() OVER (PARTITION BY node
                                ORDER BY c DESC, label) AS rn
                            FROM c{r})
                          WHERE rn = 1)""")
        prev = f"l{r}"
    return f"""
    WITH raw AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS u,
                        's' || CAST(l_suppkey AS VARCHAR) AS v
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS MATERIALIZED (SELECT u, v FROM raw
                       UNION ALL SELECT v AS u, u AS v FROM raw),
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
    {",".join(steps)}
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN substring(node, 1, 1) = 'c' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN substring(node, 1, 1) = 's' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_suppliers,
           MIN(node) AS min_member
    FROM l{_LPA_ROUNDS}
    GROUP BY 1 ORDER BY n_members DESC, community LIMIT {_LPA_TOPN}
    """


@query(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    tags=("graph", "iterative", "communities", "lpa"),
    bench=True,  # r15: the r14 round's widest with-scale WIN joins the per-round series (r14 verdict item 4)
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (Raghavan, Albert & Kumara
    2007) over the trade graph — the fifth classic graph operator beside
    components, PageRank, triangles, and the k-core peel: every node
    starts as its own label and repeatedly adopts the label held by the
    PLURALITY of its neighbors. Curation pipelines use LPA communities
    as the mid-resolution grouping between connected components (too
    coarse once a hub stitches everything together) and pairwise dedup
    clusters (too fine for source-level analysis). On a BIPARTITE graph
    the synchronous variant is two-mode: after an even number of rounds
    labels are side-pure (a customer community = the customers sharing a
    supplier-influence basin — the co-shopping grouping; the supplier
    communities are the dual), and a dense graph collapsing toward one
    epidemic label is itself the graph-density alarm the dashboard
    flags. Served: the top ``_LPA_TOPN`` communities after
    ``_LPA_ROUNDS`` synchronous rounds — size, the bipartite member
    split (which also makes the two-mode parity visible; pinned by
    test), and the min member id.

    Determinism: the paper's algorithm breaks plurality ties RANDOMLY
    and updates asynchronously; this operator pins the deterministic
    twin both engines can replay exactly — SYNCHRONOUS rounds (label_t+1
    computed wholly from label_t) and total tie-break (count DESC, label
    ASC via row_number) — counts are exact integers over the DISTINCT
    string-keyed edge set, so the trajectory is bit-identical
    cross-engine (the [q:graph_pagerank_topk] integer-grid rationale,
    achieved here with no grid because nothing is fractional).

    Scale shape: per round, ONE |E|-row hash join (edges against the
    |V|-row label table — the Pregel message exchange), a map-side
    combined (node, label) count, and a min_by plurality aggregate
    (r17 — argmax over (−count, label) structs, partial-combined
    map-side where the retired row_number window paid a per-round
    partition sort);
    each round's label table persists MEMORY_ONLY so round t+1 never
    replays round t (the k-core pattern). The rollup carries |labels|
    rows, TakeOrdered serves the top-N. No corpus-independent collect,
    no global window, nothing quadratic.

    Reference anchor: the reference engine has no iterative operator
    (SURVEY §2.2); like the other four graph operators this is
    engine-completeness work beyond the reference surface."""
    # STRING node ids, not the integer codec of the other trade-graph
    # queries: the plurality tie-break (count DESC, label ASC) orders
    # labels as strings, and the integer ids order differently
    # ('c10' < 'c9', 20 > 18), so relabeling would change the served
    # communities.
    raw = (
        _trade_lines(spark, sf_dir)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("u"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("v"),
        )
        .distinct()
    )
    # symmetrize without distinct: the 'c'/'s' prefixes make
    # cross-duplicates impossible (the k-core r13b review finding).
    edges = symmetrize(raw, "u", "v").persist(StorageLevel.MEMORY_ONLY)
    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    rounds = []
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(labels, edges["u"] == labels["node"])
            .select(F.col("v").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        # r17: the plurality argmax is a min_by hash aggregate instead of
        # a row_number window — min over (−c, label) structs IS the
        # (c DESC, label ASC) order (the struct is unique per row, so the
        # argmax is deterministic), and the aggregate partial-combines
        # map-side where the window paid a per-round partition sort.
        # Round-1 label tables collect-compared identical to the window
        # spelling; measured −0.1 s warm at sf0.1, same plan count.
        labels = (
            cnt.groupBy("node")
            .agg(
                F.min_by(
                    "label",
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("label").alias("lb")
                    ),
                ).alias("label")
            )
            .persist(StorageLevel.MEMORY_ONLY)
        )
        rounds.append(labels)
    # ONE action executes the whole lazy round chain (each round's cache
    # materializes feeding the next — the single-job profile the sf1/sf3
    # WIN cells were measured under; a count per round re-paid the job
    # scheduling constant 4×, measured 8.2 s vs 2.3 s at sf0.1), THEN
    # the superseded rounds and the edge cache drop — they otherwise
    # accumulate |V|/|E| cached rows for the life of the session (r14
    # ADVICE). Only the final label table stays cached for the returned
    # rollup; under MEMORY_ONLY eviction its lineage replays from scan.
    labels.count()
    for r in rounds[:-1]:
        r.unpersist()
    edges.unpersist()
    pre = F.substring("node", 1, 1)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.when(pre == "c", 1).otherwise(0)).cast("long").alias(
                "n_customers"
            ),
            F.sum(F.when(pre == "s", 1).otherwise(0)).cast("long").alias(
                "n_suppliers"
            ),
            F.min("node").alias("min_member"),
        )
        .orderBy(F.desc("n_members"), "community")
        .limit(_LPA_TOPN)
    )


# ---------------------------------------------------------------------------
# round 15: TextRank keyword extraction (PageRank over word co-occurrence)
# ---------------------------------------------------------------------------

#: the corpus stopword inventory (shared with the RAKE operator's
#: candidate segmentation — the two keyword extractors read the same
#: function-word set) and the served keyword count.
_TR_STOPS = ("a", "the")
_TR_TOPK = 10
_TR_STOP_SQL = ",".join(f"'{s}'" for s in _TR_STOPS)


def _textrank_oracle() -> str:
    steps_sql, prev = _pr_power_steps()
    return f"""
    WITH tk AS (SELECT string_split(text, ' ') AS w FROM documents),
    ix AS (SELECT unnest(list_transform(range(1, len(w)),
                  i -> struct_pack(t1 := w[i], t2 := w[i + 1]))) AS s
           FROM tk),
    bp AS (SELECT s.t1 AS t1, s.t2 AS t2 FROM ix),
    raw AS (SELECT LEAST(t1, t2) AS src, GREATEST(t1, t2) AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM bp
            WHERE t1 NOT IN ({_TR_STOP_SQL})
              AND t2 NOT IN ({_TR_STOP_SQL})
              AND t1 <> t2
            GROUP BY 1, 2),
    sym AS (SELECT src AS u, dst AS v, w FROM raw
            UNION ALL
            SELECT dst AS u, src AS v, w FROM raw),
    ow AS (SELECT u, CAST(SUM(w) AS BIGINT) AS outw FROM sym GROUP BY 1),
    e AS (SELECT sym.u, sym.v, sym.w, ow.outw FROM sym JOIN ow USING (u)),
    n AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n FROM sym),
    r0 AS (SELECT u AS node,
                  (SELECT CAST({_PR_SCALE} AS BIGINT) // n FROM n) AS r
           FROM (SELECT DISTINCT u FROM sym)),
    {steps_sql}
    SELECT node AS keyword, r AS rank_e12,
           round(CAST(r AS DOUBLE) / {_PR_SCALE}.0, 9) + 0.0 AS rank
    FROM {prev}
    ORDER BY r DESC, node
    LIMIT {_TR_TOPK}
    """


@query(
    "text_textrank_keywords",
    oracle=_textrank_oracle(),
    tags=("llm", "text", "keywords", "textrank", "graph", "iterative"),
)
def q_text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004 —
    PageRank over the word co-occurrence graph): nodes are the corpus's
    non-stopword vocabulary, an undirected edge weighted by
    co-occurrence count links every pair of adjacent tokens (the paper's
    window-2 co-occurrence), and the keywords are the top PageRank
    scorers — the graph-centrality complement of the frequency-ratio
    extractor [q:text_rake_keywords] (RAKE scores phrases locally;
    TextRank lets support flow through the whole co-occurrence
    topology). Serves the top-10 keywords with integer-grid and rounded
    ranks.

    Rides the suite's ALL-INTEGER PageRank operator
    (operators/graph.py::pagerank — rank mass on a 1e12-unit grid,
    every power step integer arithmetic, so the fixed point is
    bit-identical cross-engine) and the shared ``_pr_power_steps``
    oracle chain, with the same damping/iterations as
    [q:graph_pagerank_topk]; self-loops are excluded (a token repeated
    adjacently supports itself through no co-occurrence information).

    Scale shape: ONE map-side-combined (pair) exchange builds the
    vocabulary co-occurrence edges from the corpus scan; every power
    round is one |E| equi-join + combiner SUM on the vocabulary-sized
    graph (the Pregel shape, localCheckpointed edges); the top-k is a
    TakeOrdered heap. At 100 TB the edge list is vocabulary², in
    practice token-stream-bounded, and partitions by hash.

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    keyword surface; this extends the LLM-pipeline text family beyond
    reference parity."""
    d = load_table(spark, sf_dir, "documents")
    # split bound once per row (r16 — the spark_bigram_sql fix: unbound,
    # the split re-ran per element_at of every adjacent pair)
    bp = d.select(
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')), w0 -> "
                "CASE WHEN size(w0) < 2 THEN array() "
                "ELSE transform(sequence(1, size(w0) - 1),"
                " i -> struct(element_at(w0, i) AS t1,"
                " element_at(w0, i + 1) AS t2)) END)[0]"
            )
        ).alias("p")
    ).select(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
    raw = (
        bp.where(
            ~F.col("t1").isin(*_TR_STOPS)
            & ~F.col("t2").isin(*_TR_STOPS)
            & (F.col("t1") != F.col("t2"))
        )
        .select(
            F.least("t1", "t2").alias("src"),
            F.greatest("t1", "t2").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # raw is the canonical one-direction (least, greatest) list — the
    # operator symmetrizes internally (passing a pre-symmetrized list
    # doubles every edge into two parallel rows whose per-edge floors
    # drift ~1 unit/round from the oracle's single floor — measured)
    ranks = pagerank(
        raw, iters=_PR_ITERS, damping_pct=_PR_DAMP, scale=_PR_SCALE
    )
    return (
        ranks.select(
            F.col("node").alias("keyword"),
            "rank_e12",
            (
                F.round(
                    F.col("rank_e12").cast("double") / F.lit(float(_PR_SCALE)),
                    9,
                )
                + F.lit(0.0)
            ).alias("rank"),
        )
        .orderBy(F.desc("rank_e12"), "keyword")
        .limit(_TR_TOPK)
    )


# ---------------------------------------------------------------------------
# round 16: HITS hubs & authorities — the sixth classic graph operator
# ---------------------------------------------------------------------------

_HITS_ITERS = 5
_HITS_SCALE = 10**6  # the L1-normalization grid; see overflow note below
_HITS_TOPK = 10


def _hits_power_steps() -> tuple[str, str, str]:
    """The integer HITS mutual-recursion CTE chain, spelled once: each
    round is authority-update + L1-renormalize, hub-update +
    L1-renormalize, all exact BIGINT arithmetic (x·scale // Σx).
    Every chain CTE is MATERIALIZED — each raw frame has two readers
    (the renormalize select + its scalar-sum subquery) and DuckDB's
    default inlining re-evaluates the whole prefix per reader, an
    exponential blowup through 5 rounds (the k-core oracle lesson:
    48 s → 0.15 s). Returns (steps_sql, final_auth_cte,
    final_hub_cte)."""
    steps = []
    prev_h = "h0"
    for i in range(1, _HITS_ITERS + 1):
        steps.append(
            f"a{i}raw AS MATERIALIZED (SELECT e.v AS node,"
            f" CAST(SUM(e.w * h.h) AS BIGINT) AS x"
            f" FROM e JOIN {prev_h} h ON e.u = h.node GROUP BY 1),\n"
            f"    a{i} AS MATERIALIZED (SELECT node, CAST((x * {_HITS_SCALE})"
            f" // (SELECT SUM(x) FROM a{i}raw) AS BIGINT) AS a FROM a{i}raw),\n"
            f"    h{i}raw AS MATERIALIZED (SELECT e.u AS node,"
            f" CAST(SUM(e.w * a.a) AS BIGINT) AS x"
            f" FROM e JOIN a{i} a ON e.v = a.node GROUP BY 1),\n"
            f"    h{i} AS MATERIALIZED (SELECT node, CAST((x * {_HITS_SCALE})"
            f" // (SELECT SUM(x) FROM h{i}raw) AS BIGINT) AS h FROM h{i}raw)"
        )
        prev_h = f"h{i}"
    return ",\n    ".join(steps), f"a{_HITS_ITERS}", prev_h


def _hits_oracle() -> str:
    steps_sql, fa, fh = _hits_power_steps()
    return f"""
    WITH e AS MATERIALIZED (
      SELECT 'c' || CAST(o_custkey AS VARCHAR) AS u,
             's' || CAST(l_suppkey AS VARCHAR) AS v,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    h0 AS (SELECT DISTINCT u AS node, CAST(1 AS BIGINT) AS h FROM e),
    {steps_sql}
    SELECT side, node, score_e6,
           round(CAST(score_e6 AS DOUBLE) / {_HITS_SCALE}.0, 6) + 0.0
             AS score
    FROM (
      SELECT 'auth' AS side, node, a AS score_e6,
             row_number() OVER (ORDER BY a DESC, node) AS rn FROM {fa}
      UNION ALL
      SELECT 'hub' AS side, node, h AS score_e6,
             row_number() OVER (ORDER BY h DESC, node) AS rn FROM {fh}
    ) WHERE rn <= {_HITS_TOPK}
    ORDER BY side, score_e6 DESC, node
    """


@query(
    "graph_hits_hubs_auth",
    oracle=_hits_oracle(),
    tags=("graph", "hits", "ranking"),
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS — hubs and authorities (Kleinberg, JACM 1999) over the
    DIRECTED customer→supplier trade graph, the sixth classic graph
    operator beside PageRank/CC/k-core/triangles/LPA and the one that
    exploits the graph's natural bipartite direction (PageRank
    symmetrizes it): a customer is a good HUB when it buys from good
    authorities, a supplier a good AUTHORITY when good hubs buy from it
    — the mutual recursion a(v) = Σ w·h(u), h(u) = Σ w·a(v),
    renormalized every half-step. Serves the top-{_HITS_TOPK} of each
    side with grid and 6-dp scores.

    Determinism/parity — the ALL-INTEGER fixed point of the PageRank
    family applied to HITS: scores live on a {_HITS_SCALE}-unit L1 grid
    (Kleinberg's L2 normalization swapped for L1, a disclosed
    adaptation — L1 is exactly representable in integer division and
    leaves the RANKING of a non-negative fixed point unchanged), every
    update is exact BIGINT arithmetic (x·scale // Σx), so both engines
    replay the identical trajectory bit-for-bit. Overflow bound:
    post-normalization scores ≤ scale = 1e6, so a round's raw sum is
    ≤ Σw·1e6 ≈ 1e12 at sf10 and the renormalization product ≤ 1e18 <
    2^63 — stated margin, the pagerank w ≤ 1e5 contract's twin.

    Scale shape (Pregel-on-DataFrames, the pagerank pattern): the
    weighted edge list derives ONCE (localCheckpoint) from one
    orders⋈lineitem aggregate; each half-step is one |E| equi-join +
    one map-side-combined SUM, the renormalization a 1-row broadcast;
    nothing collects to the driver. Five rounds = 10 such steps.
    r16 optimization (measured 7.9 s → 4.8 s at sf0.1, identical rows):
    (a) nodes are INTEGER ids in flight (``_trade_ids``), the 'c…'/'s…'
    strings the contract serves reconstructed on the |V|-row frames
    feeding the top-k (BEFORE the order-by, so the string tie-break is
    unchanged); (b) only the
    authority half-step eagerly checkpoints — the hub half-step
    PERSISTs instead (its two readers, the L1-norm aggregate and the
    renormalize join, share one cached materialization) and the next
    authority checkpoint re-truncates the lineage, so plan depth stays
    bounded at one round while the per-half-step driver sync drops
    from 10 jobs to 5.

    Reference anchor: beyond reference parity; completes the classic
    link-analysis pair (PageRank global centrality / HITS topic-style
    hub-authority duality) on the same trade graph so the two rankings
    are directly comparable."""
    cust, supp = _trade_ids()
    e = (
        _trade_lines(spark, sf_dir)
        .groupBy(cust.alias("u"), supp.alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint(eager=True)
    )
    h = e.select(F.col("u").alias("node")).distinct().select(
        "node", F.lit(1).cast("long").alias("h")
    )
    a = None
    for _ in range(_HITS_ITERS):
        # each raw frame has TWO readers (the L1-norm aggregate + the
        # renormalize join) and feeds the NEXT round's plan. The
        # authority half localCheckpoints (the pagerank/CC pattern) — a
        # cache alone computes once but does NOT truncate lineage, and
        # an un-truncated logical plan grows 2^rounds subtrees
        # (measured: the un-truncated 5-round plan OOMed the driver
        # while merely FORMATTING its explain string). The hub half
        # PERSISTs instead of checkpointing (r16): its two readers share
        # the cached materialization, the following round's authority
        # checkpoint re-truncates lineage (plan depth stays bounded at
        # ~one round, 4 checkpoint-scan leaves), and the run pays 5
        # driver-synchronous checkpoint jobs instead of 10 — measured
        # 7.9 → 4.8 s at sf0.1 together with the integer ids. Frames
        # are |V|-sized; MEMORY_ONLY, evictable, dropped by the bench's
        # clearCache.
        araw = (
            e.join(h, e["u"] == h["node"])
            .select(F.col("v").alias("node"), (F.col("w") * F.col("h")).alias("x"))
            .groupBy("node")
            .agg(F.sum("x").cast("long").alias("x"))
            .localCheckpoint(eager=True)
        )
        anorm = araw.agg(F.sum("x").cast("long").alias("tot"))
        a = araw.crossJoin(F.broadcast(anorm)).select(
            "node", F.expr(f"(x * {_HITS_SCALE}) div tot").alias("a")
        )
        hraw = (
            e.join(a, e["v"] == a["node"])
            .select(F.col("u").alias("node"), (F.col("w") * F.col("a")).alias("x"))
            .groupBy("node")
            .agg(F.sum("x").cast("long").alias("x"))
            .persist(StorageLevel.MEMORY_ONLY)
        )
        hnorm = hraw.agg(F.sum("x").cast("long").alias("tot"))
        h = hraw.crossJoin(F.broadcast(hnorm)).select(
            "node", F.expr(f"(x * {_HITS_SCALE}) div tot").alias("h")
        )
    # per-side TakeOrdered top-k (never a global single-partition window
    # over |V| rows), then one 20-row union for the serve. The contract's
    # node strings are decoded from the integer ids HERE, on the |V|-row
    # frames BEFORE the order-by, so the (score DESC, node string ASC)
    # tie-break is exactly the pre-r16 one (authority nodes are always
    # suppliers, hub nodes always customers — the update directions
    # guarantee it).
    top_a = (
        a.select(
            F.lit("auth").alias("side"),
            _trade_name("s").alias("node"),
            F.col("a").alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("node"))
        .limit(_HITS_TOPK)
    )
    top_h = (
        h.select(
            F.lit("hub").alias("side"),
            _trade_name("c").alias("node"),
            F.col("h").alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("node"))
        .limit(_HITS_TOPK)
    )
    return (
        top_a.union(top_h)
        .select(
            "side",
            "node",
            "score_e6",
            (
                F.round(
                    F.col("score_e6").cast("double") / F.lit(float(_HITS_SCALE)),
                    6,
                )
                + F.lit(0.0)
            ).alias("score"),
        )
        .orderBy("side", F.desc("score_e6"), "node")
    )
