"""Independent (pure-Python) recomputation of the prefix-filtered
set-similarity join: the naive all-overlapping-pairs answer, the prefix
candidate set (losslessness + selectivity), and the all-equi-join plan
shape."""

from __future__ import annotations

import os
import re
from fractions import Fraction

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduceindex_demo_spark.oracle_harness import engine_round
from mapreduceindex_demo_spark.plans import QUERIES
from mapreduceindex_demo_spark.plans.setsim import TAU_NUM, TAU_DEN
from tests.conftest import PARITY_SF_DIR


def _doc_sets() -> dict[int, frozenset]:
    t = pq.read_table(
        f"{PARITY_SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    out = {}
    for r in t:
        tk = r["text"].split(" ")
        if len(tk) < 3:
            grams = {r["text"]}
        else:
            grams = {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}
        out[r["doc_id"]] = frozenset(grams)
    return out


def _naive_pairs(sets):
    """Brute force over the inverted index: every positive-overlap pair's
    exact Jaccard, thresholded with the exact rational tau."""
    inv: dict[str, list[int]] = {}
    for d, s in sets.items():
        for g in s:
            inv.setdefault(g, []).append(d)
    inter: dict[tuple[int, int], int] = {}
    for docs in inv.values():
        docs.sort()
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                k = (docs[i], docs[j])
                inter[k] = inter.get(k, 0) + 1
    tau = Fraction(TAU_NUM, TAU_DEN)
    out = {}
    for (a, b), ic in inter.items():
        union = len(sets[a]) + len(sets[b]) - ic
        if Fraction(ic, union) >= tau:
            out[(a, b)] = (ic, len(sets[a]), len(sets[b]))
    return out, len(inter)


def _prefix_candidates(sets):
    """The candidate pairs the prefix filter generates, recomputed from
    first principles with the same (doc-frequency asc, gram asc) order."""
    df: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    inv: dict[str, list[int]] = {}
    for d, s in sets.items():
        ordered = sorted(s, key=lambda g: (df[g], g))
        plen = len(s) - (len(s) * TAU_NUM + TAU_DEN - 1) // TAU_DEN + 1
        for g in ordered[:plen]:
            inv.setdefault(g, []).append(d)
    cands = set()
    for docs in inv.values():
        docs.sort()
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                cands.add((docs[i], docs[j]))
    return cands


def test_setsim_matches_naive_python(spark):
    sets = _doc_sets()
    expect, n_overlap = _naive_pairs(sets)
    rows = QUERIES["dedup_setsim_prefix_join"].fn(spark, PARITY_SF_DIR).collect()
    got = {(r.doc_a, r.doc_b): (r.inter, r.size_a, r.size_b) for r in rows}
    assert got == expect
    for r in rows:
        union = r.size_a + r.size_b - r.inter
        assert abs(r.jac - engine_round(r.inter / union, 6)) < 1e-12
        assert r.inter * TAU_DEN >= TAU_NUM * union
    # the threshold set must be non-trivial at test scale
    assert len(rows) >= 10


def test_prefix_filter_is_lossless_and_selective():
    sets = _doc_sets()
    expect, n_overlap = _naive_pairs(sets)
    cands = _prefix_candidates(sets)
    # losslessness: every qualifying pair is a prefix candidate
    assert set(expect) <= cands
    # selectivity: the candidate join is far smaller than the
    # positive-overlap universe the naive inverted index materializes
    assert len(cands) < n_overlap / 2, (len(cands), n_overlap)


def test_setsim_plan_is_all_equi_joins(spark):
    """Candidate generation and verification are equi-joins on gram /
    doc_id — no cartesian or nested-loop node anywhere, and the rank
    window rides a doc_id exchange."""
    df = QUERIES["dedup_setsim_prefix_join"].fn(spark, PARITY_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # r16 optimization respell: the rank window is GONE — the (df, gram)
    # total order now comes from an in-row array_sort over the one
    # doc_id groupBy exchange, so a Window node reappearing means the
    # old two-extra-corpus-pass spelling regressed back in
    assert not re.search(r"\bWindow\b", plan), plan
    # verification is compute-only array_intersect over attached gram
    # arrays — the explode-join spelling (|cand| x grams-per-doc rows
    # through an exchange) spilled past single-node disk at x10 replicas
    assert "array_intersect" in plan, plan
    # Generates: the shingle explode feeding the cached ex frame renders
    # once per uncached branch; the prefix posexplode renders once per
    # self-join side (2). The verification joins attach ARRAYS from the
    # cached sorted frame and must not add Generates (the explode-join
    # spelling showed 6)
    assert len(re.findall(r"\bGenerate\b", plan)) <= 4, plan


def test_setsim_hashed_verify_equals_string_fallback(spark, monkeypatch):
    """The r17 hashed-long verification arrays must return row-identical
    results to the exact string-array fallback, and the injectivity
    guard must actually choose the hashed path on the testdata corpus."""
    import mapreduceindex_demo_spark.plans.setsim as SS

    seen = {}
    real = SS._xxhash64_injective_over

    def spy(docfreq):
        seen["ok"] = real(docfreq)
        return seen["ok"]

    monkeypatch.setattr(SS, "_xxhash64_injective_over", spy)
    hashed = sorted(
        map(tuple, QUERIES["dedup_setsim_prefix_join"].fn(spark, PARITY_SF_DIR).collect())
    )
    assert seen["ok"] is True  # the guard picked the hashed path
    spark.catalog.clearCache()
    monkeypatch.setattr(SS, "_xxhash64_injective_over", lambda df: False)
    fallback = sorted(
        map(tuple, QUERIES["dedup_setsim_prefix_join"].fn(spark, PARITY_SF_DIR).collect())
    )
    spark.catalog.clearCache()
    assert hashed == fallback and len(hashed) >= 10


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_sorted_neighborhood_matches_python(spark):
    rows = pq.read_table(
        f"{PARITY_SF_DIR}/customer.parquet",
        columns=["c_custkey", "c_name", "c_nationkey"],
    ).to_pylist()
    by_nation: dict[int, list] = {}
    for r in rows:
        by_nation.setdefault(r["c_nationkey"], []).append(
            (r["c_name"], r["c_custkey"])
        )
    expect = {}
    for nk, recs in by_nation.items():
        recs.sort()
        compared = matches = 0
        for i, (name, _) in enumerate(recs):
            for j in range(i + 1, min(i + 4, len(recs))):
                compared += 1
                matches += _py_levenshtein(name, recs[j][0]) <= 2
        expect[nk] = (len(recs), compared, matches)
    got = QUERIES["er_sorted_neighborhood"].fn(spark, PARITY_SF_DIR).collect()
    assert {r.nationkey for r in got} == set(expect)
    for r in got:
        n, cmp_, m = expect[r.nationkey]
        assert (r.n_records, r.n_compared, r.n_matches) == (n, cmp_, m), r
        want = 0.0 if cmp_ == 0 else engine_round(m / cmp_, 6)
        assert abs(r.match_rate - want) < 1e-12
    # the match rule must actually fire at test scale
    assert sum(m for _, _, m in expect.values()) > 0


def test_sorted_neighborhood_is_distributed_beyond_blocking_cardinality(spark):
    """The r8 verdict's scale finding: windowing on the nation key alone
    caps parallelism at 25 tasks forever. The distributed spelling must
    (a) window the neighbor pass on (nation, chunk) — the plan's widest
    sort exchange keys on the CHUNK column, not the 25-value nation key
    alone — and (b) actually produce more than 25 sort groups at test
    scale, so a 1000-executor cluster has real work units."""
    from pyspark.sql import functions as F

    from mapreduceindex_demo_spark.plans.setsim import _SNM_CHUNK, _SNM_W
    from mapreduceindex_demo_spark.session import load_table

    df = QUERIES["er_sorted_neighborhood"].fn(spark, PARITY_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan, plan
    # offsets + attribute joins stay broadcast: nothing shuffle-joins
    assert "SortMergeJoin" not in plan, plan
    # the neighbor window partitions on (nation, chunk)
    assert re.search(r"hashpartitioning\(c_nationkey#\d+L?, chunk#\d+L?", plan), plan
    # more sort groups than the blocking-key cardinality
    c = load_table(spark, PARITY_SF_DIR, "customer")
    n_blocks = (
        c.groupBy("c_nationkey")
        .count()
        .select(
            F.sum(F.ceil(F.col("count") / _SNM_CHUNK)).alias("blocks")
        )
        .collect()[0][0]
    )
    assert n_blocks > 25, n_blocks
    # the one-hop copy rule requires chunks at least as wide as the
    # neighbor window
    assert _SNM_CHUNK >= _SNM_W


# --------------------------------------------------------------------------
# distributed-SNM scheme: property test of the rank/chunk/copy algebra
# --------------------------------------------------------------------------


def _snm_scheme_pairs(records, chunk_size, w):
    """The distributed scheme in pure Python, mirroring the plan exactly:
    global rank per block -> rank-contiguous chunks -> last-w rows copied
    one chunk forward -> per-chunk leads -> emit iff the LEAD is native."""
    from collections import defaultdict

    by_block = defaultdict(list)
    for blk, name, key in records:
        by_block[blk].append((name, key))
    pairs = []
    for blk, recs in by_block.items():
        recs.sort()
        members = defaultdict(list)  # chunk -> [(rnk, name, is_copy)]
        for i, (name, _) in enumerate(recs):
            rnk = i + 1
            c = (rnk - 1) // chunk_size
            members[c].append((rnk, name, False))
            if (rnk - 1) % chunk_size >= chunk_size - w:
                members[c + 1].append((rnk, name, True))
        for c, rows in members.items():
            rows.sort()
            for i, (_, name, _is_copy) in enumerate(rows):
                for j in range(1, w + 1):
                    if i + j < len(rows):
                        _, nbr, nbr_copy = rows[i + j]
                        if not nbr_copy:
                            pairs.append((blk, name, nbr))
    return sorted(pairs)


def _snm_naive_pairs(records, w):
    from collections import defaultdict

    by_block = defaultdict(list)
    for blk, name, key in records:
        by_block[blk].append((name, key))
    pairs = []
    for blk, recs in by_block.items():
        recs.sort()
        for i, (name, _) in enumerate(recs):
            for j in range(i + 1, min(i + w + 1, len(recs))):
                pairs.append((blk, name, recs[j][0]))
    return sorted(pairs)


def test_snm_chunk_copy_scheme_is_pair_identical():
    """Hypothesis: for ANY records, block skew, duplicate names and any
    chunk size >= w, the chunk/copy scheme emits exactly the naive
    single-sort neighbor pairs — the losslessness proof, fuzzed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    rec = st.tuples(
        st.integers(0, 2),                      # block key (skewed, small)
        st.text(alphabet="ab", min_size=0, max_size=4),  # name (ties likely)
        st.integers(0, 10**6),                  # tiebreak key
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(rec, min_size=0, max_size=40, unique_by=lambda r: r[2]),
        st.integers(3, 9),                      # chunk size >= w
    )
    def run(records, chunk_size):
        w = 3
        assert _snm_scheme_pairs(records, chunk_size, w) == _snm_naive_pairs(
            records, w
        )

    run()


def test_snm_spark_plan_lossless_at_tiny_chunks(spark, monkeypatch):
    """Run the REAL Spark plan with chunk size 4 (every nation spans many
    chunks at sf0.001, so boundary copies dominate) and compare against
    the naive single-window DuckDB oracle — the end-to-end twin of the
    pure-Python property above."""
    import mapreduceindex_demo_spark.plans.setsim as ss
    from mapreduceindex_demo_spark.oracle_harness import duck_connect

    monkeypatch.setattr(ss, "_SNM_CHUNK", 4)
    # build the sf0.001 path explicitly (a substring replace on
    # PARITY_SF_DIR silently no-ops under an env override without the
    # 'sf0.01' substring and the test would run at the wrong scale)
    sf_dir = os.path.join(os.path.dirname(PARITY_SF_DIR.rstrip("/")), "sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"sf0.001 testdata not present at {sf_dir}")
    got = sorted(
        tuple(r) for r in QUERIES["er_sorted_neighborhood"].fn(spark, sf_dir).collect()
    )
    con = duck_connect(sf_dir)
    exp = sorted(
        tuple(r)
        for r in con.execute(QUERIES["er_sorted_neighborhood"].oracle).fetchall()
    )
    assert got == exp


def test_snm_all_shared_prefix_corpus_is_still_exact(spark, tmp_path):
    """The documented `_SNM_PFX` degenerate case, machine-checked: when
    every name shares a >=16-char common prefix, ALL of a block's rows
    land in ONE prefix bucket — the rank stage loses its parallelism
    (gracefully: one bucket per block) but the answer must stay exactly
    the naive single-window result. Correctness may never depend on the
    bucketing knob."""
    from mapreduceindex_demo_spark.plans.setsim import (
        _SNM_CHUNK,
        _SNM_DIST,
        _SNM_PFX,
        _SNM_W,
    )

    pfx = "SharedCommonPrefix_"  # 19 chars > _SNM_PFX
    assert len(pfx) > _SNM_PFX
    # two skewed blocks, each spanning several chunks so the chunk/copy
    # machinery is exercised UNDER the degenerate single-bucket rank
    rows = []
    k = 0
    for nation, n in ((0, 3 * _SNM_CHUNK + 5), (1, _SNM_W + 1)):
        for i in range(n):
            k += 1
            # suffixes engineered so some neighbor pairs match (lev<=2)
            rows.append((k, f"{pfx}{i // 3:04d}x{i % 3}", nation))
    spark.createDataFrame(
        rows, "c_custkey INT, c_name STRING, c_nationkey INT"
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))

    # every row of a block maps to the same bucket — the degeneracy premise
    assert len({name[:_SNM_PFX] for _, name, _ in rows}) == 1

    expect = {}
    by_nation: dict[int, list] = {}
    for ck, name, nk in rows:
        by_nation.setdefault(nk, []).append((name, ck))
    for nk, recs in by_nation.items():
        recs.sort()
        compared = matches = 0
        for i, (name, _) in enumerate(recs):
            for j in range(i + 1, min(i + _SNM_W + 1, len(recs))):
                compared += 1
                matches += _py_levenshtein(name, recs[j][0]) <= _SNM_DIST
        expect[nk] = (len(recs), compared, matches)

    got = QUERIES["er_sorted_neighborhood"].fn(spark, str(tmp_path)).collect()
    assert {r.nationkey for r in got} == set(expect)
    total_matches = 0
    for r in got:
        n, cmp_, m = expect[r.nationkey]
        assert (r.n_records, r.n_compared, r.n_matches) == (n, cmp_, m), r
        total_matches += m
    assert total_matches > 0  # the fixture's match pairs are non-trivial


def test_snm_multipass_matches_python(spark):
    """Three-pass SNM recomputed in pure Python: per nation, sort by
    name, by REVERSED name, then by the independent BALANCE attribute
    (round 12), window w=3 each, collect matched custkey pairs, union —
    per-pass counts, the union, and the incremental per-pass gains must
    all match, and pass 2 must find pairs pass 1 misses (the whole
    point of multi-pass)."""
    from mapreduceindex_demo_spark.plans.setsim import _SNM_DIST, _SNM_W

    rows = pq.read_table(
        f"{PARITY_SF_DIR}/customer.parquet",
        columns=["c_custkey", "c_name", "c_acctbal", "c_nationkey"],
    ).to_pylist()
    by_nation: dict[int, list] = {}
    for r in rows:
        # integer cents mirror the query's order-isomorphic encoding
        by_nation.setdefault(r["c_nationkey"], []).append(
            (r["c_name"], round(r["c_acctbal"] * 100), r["c_custkey"])
        )

    def pass_pairs(recs, keyf):
        recs = sorted(recs, key=lambda t: (keyf(t), t[2]))
        out = set()
        for i, (name, _, key) in enumerate(recs):
            for j in range(i + 1, min(i + _SNM_W + 1, len(recs))):
                nname, _, nkey = recs[j]
                if _py_levenshtein(name, nname) <= _SNM_DIST:
                    out.add((min(key, nkey), max(key, nkey)))
        return out

    expect = {}
    for nk, recs in by_nation.items():
        p1 = pass_pairs(recs, lambda t: t[0])
        p2 = pass_pairs(recs, lambda t: t[0][::-1])
        p3 = pass_pairs(recs, lambda t: t[1])
        expect[nk] = (
            len(recs),
            len(p1),
            len(p2),
            len(p3),
            len(p1 | p2 | p3),
            len(p1 | p2) - len(p1),
            len(p1 | p2 | p3) - len(p1 | p2),
        )

    got = QUERIES["er_snm_multipass"].fn(spark, PARITY_SF_DIR).collect()
    assert {r.nationkey for r in got} == set(expect)
    for r in got:
        assert (
            r.n_records,
            r.n_matches_pass1,
            r.n_matches_pass2,
            r.n_matches_pass3,
            r.n_matches_union,
            r.n_pass2_only,
            r.n_pass3_only,
        ) == expect[r.nationkey], r
    # the second pass must buy real recall at test scale
    assert sum(r.n_pass2_only for r in got) > 0
    # and the union can never lose pairs vs any single pass
    for r in got:
        assert r.n_matches_union >= max(
            r.n_matches_pass1, r.n_matches_pass2, r.n_matches_pass3
        )


def test_snm_multipass_plan_shape(spark):
    """Machine-checked scale claims for the multipass (r16 fused
    spelling): the three passes run through ONE pass_id-partitioned
    kernel instance (the posexplode of the sort-key array is the fusion
    signature), the only exchanges beyond it carry MATCHED pairs (the
    (nation, ka, kb) distincts), nothing shuffle-joins or crosses, and
    the later passes' sort keys really enter the exploded array —
    reverse(name) and the lpad cents encoding both appear in the plan."""
    df = QUERIES["er_snm_multipass"].fn(spark, PARITY_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, final
    assert "SortMergeJoin" not in final, final
    assert re.search(
        r"hashpartitioning\(c_nationkey#\d+, ka#\d+L, kb#\d+L", plan
    ), "matched-pair distinct exchange missing"
    # the fusion signature: ONE kernel, pass_id-partitioned — the pass
    # sort keys live inside a single posexplode'd array
    assert "posexplode(" in plan, "fused pass explode missing"
    assert "pass_id" in plan, "pass_id partition key missing"
    assert "reverse(" in plan, "pass-2 sort key missing from the plan"
    # the pass-3 EXPRESSION, not the bare column name (c_acctbal appears
    # in the scan regardless): the lpad of the cents encoding proves the
    # third pass really sorts under the encoded balance
    assert "lpad(" in plan, "pass-3 sort-key encoding missing from the plan"


def test_snm_multipass_lossless_at_tiny_chunks(spark, monkeypatch):
    """The multipass twin of the single-pass tiny-chunk e2e: chunk size 4
    makes boundary copies dominate BOTH passes (including the
    reversed-name pass, whose prefix bucketing is the one new algebraic
    step), and the real Spark plan must still equal the naive two-window
    DuckDB oracle row-for-row."""
    import mapreduceindex_demo_spark.plans.setsim as ss
    from mapreduceindex_demo_spark.oracle_harness import duck_connect

    monkeypatch.setattr(ss, "_SNM_CHUNK", 4)
    sf_dir = os.path.join(os.path.dirname(PARITY_SF_DIR.rstrip("/")), "sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"sf0.001 testdata not present at {sf_dir}")
    got = sorted(
        tuple(r) for r in QUERIES["er_snm_multipass"].fn(spark, sf_dir).collect()
    )
    con = duck_connect(sf_dir)
    exp = sorted(
        tuple(r)
        for r in con.execute(QUERIES["er_snm_multipass"].oracle).fetchall()
    )
    assert got == exp


def test_snm_offsets_join_falls_back_to_shuffle_without_broadcast(spark):
    """The round-12 safety valve, machine-checked from BOTH sides: the
    offsets join in `_snm_neighbor_pairs` is deliberately UN-hinted, so
    (a) at normal size the planner/AQE picks a broadcast join on its own
    (the distributed plan-shape test above asserts no SortMergeJoin),
    and (b) with auto-broadcast disabled on BOTH thresholds (static
    estimate AND the session's 64 MB adaptive runtime gate — the
    stand-in for a degenerate corpus where offs outgrows them) the SAME
    plan must degrade to a shuffle join and still return the exact
    single-window answer. A hinted broadcast cannot do (b): Spark
    honors the hint unconditionally and AQE never demotes it."""
    from tests.conftest import no_broadcast

    baseline = sorted(
        tuple(r)
        for r in QUERIES["er_sorted_neighborhood"].fn(spark, PARITY_SF_DIR).collect()
    )
    with no_broadcast(spark):
        df = QUERIES["er_sorted_neighborhood"].fn(spark, PARITY_SF_DIR)
        got = sorted(tuple(r) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        # the valve exists: with broadcast off the offsets join really
        # runs as a non-broadcast join (no forced driver-side build)
        assert "BroadcastHashJoin" not in final, final
    assert got == baseline


def _py_acct_key(bal: float) -> str:
    """Pure-Python mirror of _snm_acct_skey / _SNM_ACCT_SKEY_SQL.
    HALF_UP (away-from-zero at exact halves) via Decimal, NOT Python's
    built-in round (banker's/half-even) — Spark's F.round and DuckDB's
    round() both round halves away from zero, and the mirror must match
    the engines on a hypothetical exact-half-cent double even though the
    2-decimal TPC-H domain never produces one. A None balance maps to
    the '00000000' sentinel (below every real key) — the r12 ADVICE
    guard so a null-bearing corpus can't diverge on NULLS FIRST/LAST."""
    from decimal import ROUND_HALF_UP, Decimal

    if bal is None:
        return "00000000"
    cents = int(
        Decimal(bal * 100).quantize(Decimal(1), rounding=ROUND_HALF_UP)
    )
    return str(cents + 100000).rjust(8, "0")


@given(
    st.lists(
        st.integers(min_value=-99999, max_value=999999).map(
            lambda c: c / 100.0
        ),
        min_size=2,
        max_size=50,
    )
)
@settings(deadline=None, max_examples=200)
def test_acct_key_encoding_is_order_isomorphic(balances):
    """The pass-3 sort key's load-bearing property, fuzzed over the full
    TPC-H balance domain [-999.99, 9999.99] at 2 decimals: the lpad-cents
    encoding is injective and ORDER-ISOMORPHIC to the numeric balance
    (lexicographic string order == numeric order), so sorting by the
    encoding is exactly sorting by the balance."""
    enc = [_py_acct_key(b) for b in balances]
    assert all(len(e) == 8 and e.isdigit() for e in enc)
    pairs = sorted(zip(balances, enc))
    for (b1, e1), (b2, e2) in zip(pairs, pairs[1:]):
        if b1 == b2:
            assert e1 == e2
        else:
            assert e1 < e2, (b1, e1, b2, e2)


def test_acct_key_spark_duckdb_python_spellings_agree(spark):
    """The three spellings of the cents encoding (Spark Column, DuckDB
    SQL, the Python mirror above) must produce byte-identical keys on
    domain edges and representative values — a divergence would silently
    re-order pass 3 between the query and its oracle."""
    import duckdb

    from mapreduceindex_demo_spark.plans.setsim import (
        _SNM_ACCT_SKEY_SQL,
        _snm_acct_skey,
    )

    vals = [
        None, -999.99, -994.28, -0.01, 0.0, 0.01, 121.65, 9997.41, 9999.99,
    ]
    sdf = spark.createDataFrame(
        [(v,) for v in vals], "c_acctbal DOUBLE"
    ).select(_snm_acct_skey().alias("k"))
    got_spark = [r.k for r in sdf.collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT {_SNM_ACCT_SKEY_SQL} FROM (SELECT ? AS c_acctbal)", [v]
        ).fetchone()[0]
        for v in vals
    ]
    expect = [_py_acct_key(v) for v in vals]
    assert got_spark == expect
    assert got_duck == expect


def test_snm_fused_passes_equal_single_passes(spark, monkeypatch):
    """The fused passes of [q:er_snm_multipass] are independent: on a
    small hand-made customer frame, pass k of the (pass_id, nation)
    kernel returns exactly the pairs of the (nation) kernel run under
    sort key k. Chunk size 4 and 2-char rank buckets put chunk copies and
    bucket offsets inside every pass."""
    from pyspark.sql import functions as F

    import mapreduceindex_demo_spark.plans.setsim as ss

    monkeypatch.setattr(ss, "_SNM_CHUNK", 4)
    monkeypatch.setattr(ss, "_SNM_PFX", 2)
    names = [
        "smith", "smyth", "jones", "jonas", "brown", "braun", "lee", "li",
        "kim", "kin", "park", "parks", "doe", "roe", "moe", "smit",
    ]
    rows = [
        (i + 1, names[i % len(names)] + "abc"[i % 3], (i * 37) % 11 - 3.5, i % 2)
        for i in range(2 * len(names))
    ]
    c = spark.createDataFrame(
        rows, "c_custkey bigint, c_name string, c_acctbal double, c_nationkey bigint"
    )
    skeys = [F.col("c_name"), F.reverse(F.col("c_name")), ss._snm_acct_skey()]
    fused = ss._snm_neighbor_pairs(
        c.select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.posexplode(F.array(*skeys)).alias("pass_id", "skey"),
        ),
        ["pass_id", "c_nationkey"],
    ).collect()
    per_pass = []
    for k, skey in enumerate(skeys):
        single = ss._snm_neighbor_pairs(
            c.withColumn("skey", skey), ["c_nationkey"]
        ).collect()
        want = sorted(tuple(r) for r in single)
        got = sorted(tuple(r)[1:] for r in fused if r.pass_id == k)
        assert got == want, k
        # w neighbours per record minus the block tails, per nation
        assert len(got) == 2 * (3 * 16 - 6)
        per_pass.append({(r[0], min(r[2], r[4]), max(r[2], r[4])) for r in got})
    # the sort keys really differ, so the equalities above are per pass
    assert per_pass[0] != per_pass[1] != per_pass[2] != per_pass[0]
