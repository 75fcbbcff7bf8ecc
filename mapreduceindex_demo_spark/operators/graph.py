"""Iterative graph operator: connected components by min-label propagation.

The missing last step of a real dedup pipeline: LSH/SimHash produce
near-dup PAIRS, but retention decisions need CLUSTERS (keep one canonical
doc per component). The reference has no iterative operator at all (its
only loop is the per-document map pipeline, SURVEY §2.2), so this is
engine-completeness work in the same spirit as the relational layer.

Scale design: pure DataFrame self-join + groupBy per round — state is the
(node, label) frame, shuffled on node ids, never collected to the driver.
Min-label propagation converges in O(graph diameter) rounds; near-dup
graphs are unions of small cliques (diameter ≲ 2-3), so the loop is short
in practice and `max_iter` bounds the worst case. Each round ends with
`localCheckpoint` to truncate lineage (otherwise the plan doubles every
iteration) — on a cluster this would be a checkpoint to reliable storage.
The convergence probe is a `limit(1).count()` on changed labels — an
aggregate, not a collect, so no driver-side data loop (the anti-pattern
the brief forbids); `limit(1)` lets Spark stop the probe at the first
changed row instead of counting all of them.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame, src: str, dst: str, **carry: str) -> DataFrame:
    """Both directions of every ``(src, dst)`` edge as ``(u, v, *carry)``
    rows, where ``carry`` maps an output name to an edge column copied
    onto both directions (a weight). One pass (r17): each edge row
    explodes into its two directions, where a union of two selects would
    instantiate the caller's edge lineage once per branch — the fact
    joins or banded pair joins behind the edges would run twice inside
    the caller's checkpoint or persist fill. Deduplication and
    materialization stay with the caller."""
    rest = [F.col(c).alias(n) for n, c in carry.items()]
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("u"), F.col(dst).alias("v"), *rest),
                F.struct(F.col(dst).alias("u"), F.col(src).alias("v"), *rest),
            )
        ).alias("e")
    ).select("e.u", "e.v", *[f"e.{n}" for n in carry])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Return ``(node, comp)`` where ``comp`` is the component's minimum
    node id (a deterministic canonical representative).

    ``edges`` is an undirected edge list (each pair once is enough; it is
    symmetrized here). Isolated nodes don't appear in ``edges`` and so
    don't appear in the output — callers union them in if needed.
    """
    # the edge list is re-joined EVERY round: checkpoint it once so the
    # caller's (possibly expensive) edge-producing lineage — e.g. the LSH
    # signature pipeline — is evaluated exactly once, not once per round
    # (+ once per convergence probe). NB localCheckpoint is
    # EXECUTOR-LOCAL block storage (lineage is truncated, so the data
    # does not survive executor loss); a production cluster with
    # preemptible executors would use checkpoint() to reliable storage
    # here, same as for the per-round truncation below.
    sym = symmetrize(edges, src, dst).distinct().localCheckpoint(eager=True)
    # label init FOLDS the first propagation round (r16 optimization):
    # round 1 of the old spelling always computed least(node, min(v))
    # from comp = node, paying one checkpoint job + one probe job to get
    # there. The same groupBy that used to dedup the node universe now
    # aggregates min(v) directly — identical fixed point, identical
    # labels, one fewer round for every clique-shaped dup graph (the
    # common near-dup case converges on the NEXT round's no-change probe)
    labels = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("__mnv"))
        .select("node", F.least("node", "__mnv").alias("comp"))
        .localCheckpoint(eager=True)
    )
    # self-loop rows (one per node, tagged own=true) make each round a
    # SINGLE join + ONE aggregate that references the previous labels
    # exactly once (r17): new(u) = min over {own label} ∪ {neighbor
    # labels} rides min(comp), and the monotone change flag rides
    # min(comp) < min(comp where own) in the SAME groupBy — the old
    # spelling's second (|V|⋈|V| left) join per round is gone. Single
    # reference also makes chaining rounds inside one checkpoint LINEAR
    # in plan size, enabling the stride-2 loop below. adj is a union of
    # two already-checkpointed scans — cheap to re-evaluate per round,
    # no third checkpoint needed. The node universe is fixed across
    # rounds, so the self-loop frame built from the INIT labels stays
    # valid for every round.
    adj = sym.select("u", "v", F.lit(False).alias("own")).union(
        labels.select(
            F.col("node").alias("u"), F.col("node").alias("v"),
            F.lit(True).alias("own"),
        )
    )
    rounds_done = 1  # the folded init counts as propagation round 1
    while rounds_done < max_iter:
        # stride-2 (r17): two propagation rounds share one eager
        # checkpoint and one convergence probe — at most one wasted |E|
        # join when the diameter parity is unlucky, against HALF the
        # per-round scheduler constants (eager checkpoint jobs + probe
        # jobs), which dominate the near-dup clique graphs this serves.
        # Correct because min-label is monotone: "step 2 changed
        # nothing" alone proves the fixed point, whatever step 1 did.
        steps = min(2, max_iter - rounds_done)
        cur = labels
        for _ in range(steps):
            j = adj.join(cur, adj["v"] == cur["node"])
            cur = (
                j.groupBy(adj["u"].alias("node"))
                .agg(
                    F.min("comp").alias("__newc"),
                    F.min(F.when(F.col("own"), F.col("comp"))).alias(
                        "__oldc"
                    ),
                )
                .select(
                    "node",
                    F.col("__newc").alias("comp"),
                    (F.col("__newc") < F.col("__oldc")).alias("chg"),
                )
            )
        new = cur.localCheckpoint(eager=True)
        rounds_done += steps
        changed = new.where("chg").limit(1).count()
        labels = new.select("node", "comp")
        if changed == 0:
            break
    return labels


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected edge list: one row ``(n_nodes, n_edges, n_wedges,
    n_triangles)`` — all BIGINT, so cross-engine value-hash parity is
    exact with no float anywhere.

    Algorithm: degree-ordered edge orientation (Latapy's compact-forward /
    the MapReduce formulation of Suri & Vassilvitskii's "Counting Triangles
    and the Curse of the Last Reducer", WWW'11). Each undirected edge is
    directed from its lower endpoint under the total order (degree, node);
    every triangle then has exactly ONE directed wedge x→y, y→z with a
    closing edge x→z, so the count is a self-equi-join on the wedge pivot
    followed by a semi-join against the closing edge — no pair is ever
    materialized twice and the join fan-out is bounded by the ORIENTED
    out-degree (≤ √(2·|E|) per node on any graph, vs the raw degree for
    the naive orientation). That bound is the whole point at 100 TB: the
    heavy hitter (celebrity node) that breaks naive triangle counting has
    huge in-degree but small out-degree under degree ordering, so no
    reducer sees its full neighborhood.

    Scale shape: two groupBys (dedup + degree), two broadcast-able degree
    joins, one wedge equi-join on the pivot node, one closing-edge
    equi-join on (x, z); the edge list and its orientation are
    ``persist()``-ed — each is scanned by three downstream branches
    (deg/orient/count and e1/e2/closing) and the cache blocks Catalyst
    from re-deriving the caller's edge lineage per branch. Deliberately
    NOT ``localCheckpoint``: there is no iterative lineage to cut here
    (unlike :func:`pagerank`), and eager checkpoint blocks pin executor
    memory until JVM GC drops the plan — repeated invocations in one
    session (a bench loop, a notebook) accumulated ~200 MB per call and
    OOM'd an 8 GB driver at ~sf1, while persisted blocks are evictable
    under memory pressure and cost the same single evaluation. The level
    is MEMORY_ONLY, not the MEMORY_AND_DISK default: nothing ever
    unpersists these (the caller owns materialization), so under pressure
    the blocks must be DROPPED (recompute is one cheap scan), not spilled
    to unbounded local disk across repeated invocations.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_ONLY)
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .union(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    # orient a→b iff (deg(a), a) < (deg(b), b); a < b already, so the
    # tie case deg(a) = deg(b) keeps the a→b direction
    o = (
        und.join(deg.select(F.col("n").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(F.col("da") <= F.col("db"), F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(F.col("da") <= F.col("db"), F.col("b")).otherwise(F.col("a")).alias("t"),
        )
        .persist(StorageLevel.MEMORY_ONLY)
    )
    e1 = o.select(F.col("s").alias("x"), F.col("t").alias("y"))
    e2 = o.select(F.col("s").alias("y"), F.col("t").alias("z"))
    wedge = e1.join(e2, "y").select("x", "z")
    closing = o.select(F.col("s").alias("x"), F.col("t").alias("z"))
    # oriented edges are distinct, so each wedge matches ≤1 closing edge:
    # inner join ≡ semi join here, and inner keeps both sides shuffle-free
    # to pair with the wedge output's (x, z) partitioning
    tri = wedge.join(closing, ["x", "z"])
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("(deg * (deg - 1)) div 2")).cast("long").alias("n_wedges")
    )
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges))
        .crossJoin(F.broadcast(n_tri))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted PageRank over an undirected edge list, ALL-INTEGER: returns
    ``(node, rank_e12)`` after ``iters`` power iterations.

    Cross-engine determinism is the design constraint: float PageRank sums
    contributions in shuffle order, so two engines (or two runs) disagree
    in ulps and a value-hash comparison fails. Here rank mass lives on an
    integer grid (``scale`` units = total mass 1.0) and every step is
    integer arithmetic — contribution = (r·damping_pct·w) div (100·outw),
    teleport base = ((100−damping_pct)·scale) div (100·N) — so the fixed
    point is bit-identical on any engine with 64-bit integer division.
    Flooring leaks ≤1 unit of mass per edge per round (≤ |E|·iters /
    scale ≈ 1e-6 of total mass here): PageRank's ORDERING is insensitive
    to this uniform-downward bias, and determinism is worth more than the
    12th decimal of mass conservation.

    Scale shape (Pregel-on-DataFrames): the edge list (with each source's
    out-weight attached) is localCheckpointed ONCE — the caller's edge
    derivation runs exactly once, not once per round — and each iteration
    is one equi-join of the rank frame to the edges plus one
    map-side-combinable groupBy(dst) SUM: per round the shuffle carries
    O(|E|) contributions and O(|V|) partial sums, nothing ever collects
    to the driver (N and the teleport base ride a 1-row broadcast). At
    100 TB this is exactly GraphX/Pregel's communication pattern, minus
    the RDD API. Overflow bound: r ≤ scale, so r·damping_pct·w needs
    w ≤ 9.2e18/(scale·100) ≈ 1e5 per edge — aggregate heavier multi-edges
    before calling.
    """
    # checkpoint the symmetrized list FIRST (the connected_components
    # pattern): after this point everything derives from the
    # checkpointed RDD and the caller's edge derivation has run exactly
    # once.
    sym = symmetrize(edges, src, dst, w=weight).localCheckpoint(eager=True)
    outw = sym.groupBy("u").agg(F.sum("w").alias("outw"))
    e = (
        sym.join(outw, "u")
        .select("u", "v", "w", "outw")
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("u").alias("node")).distinct()
    nrow = nodes.agg(F.count(F.lit(1)).alias("n"))
    base = nrow.select(
        F.expr(f"({100 - damping_pct} * CAST({scale} AS BIGINT)) div (100 * n)").alias("base")
    )
    ranks = nodes.crossJoin(F.broadcast(nrow)).select(
        "node", F.expr(f"CAST({scale} AS BIGINT) div n").alias("r")
    )
    for _ in range(iters):
        contrib = e.join(ranks, e.u == ranks.node).select(
            F.col("v").alias("node"),
            F.expr(f"(r * {damping_pct} * w) div (100 * outw)").alias("c"),
        )
        ranks = (
            contrib.groupBy("node")
            .agg(F.sum("c").cast("long").alias("rc"))
            .crossJoin(F.broadcast(base))
            .select("node", (F.col("base") + F.col("rc")).alias("r"))
        )
    return ranks.select("node", F.col("r").alias("rank_e12"))
