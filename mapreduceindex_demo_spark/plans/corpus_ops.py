"""Corpus-quality and scan-pruning operators (round 7d): character-entropy
gating, Bloom-filter semi-join pruning, and perceptual-hash media near-dup.

Three capabilities a 100 TB curation pipeline uses constantly that the
suite did not yet express directly:

- an ENTROPY gate (character-distribution Shannon entropy) — the classic
  cheap detector for degenerate text (repeated characters, keyboard mash,
  base64/hex blobs) that length/punctuation heuristics miss;
- a BLOOM-FILTER probe — the standard way a selective dimension predicate
  prunes a fact scan without shuffling the fact table (Spark's own
  runtime-filter feature, expressed here as an explicit, measurable
  operator with its false-positive rate reported);
- a PERCEPTUAL-HASH near-dup pass over the binary media containers — the
  image twin of MinHash text dedup (dHash gradient bits + banded Hamming
  candidate join).

Determinism: every hash is md5-on-strings; every floating-point reduction
is either an in-order fold or an exact-integer (micro-unit) sum; every
top-k has a total tiebreak.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceindex_demo_spark.oracle_harness import duck_hex_int, spark_bigram_sql
from mapreduceindex_demo_spark.plans.registry import query
from mapreduceindex_demo_spark.session import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _duck_hex8(col: str) -> str:
    """First-8-hex-chars → BIGINT for a DuckDB md5-hex column ``col``
    (mirrors Spark's conv(substring(md5(..), 1, 8), 16, 10)); delegates
    to the ONE shared strpos-nibble generator (oracle_harness.duck_hex_int,
    round-9 review), parenthesized for safe embedding in % expressions."""
    return "(" + duck_hex_int(col) + ")"


# ==========================================================================
# Character-entropy quality gate
# ==========================================================================

#: flag threshold in bits/char — sits at ~p05 of the generated corpus
#: (observed span 3.67..4.23), i.e. the gate flags the low tail without
#: flagging everything; real pipelines tune this per corpus
_ENTROPY_GATE = 3.95


@query(
    "text_char_entropy_gate",
    oracle=f"""
    WITH ch AS (SELECT doc_id, source,
            unnest(list_transform(range(1, length(text) + 1),
                                  i -> substring(text, i, 1))) AS ch
          FROM documents),
    cnt AS (SELECT doc_id, source, ch, CAST(count(*) AS BIGINT) AS cnt
            FROM ch GROUP BY 1, 2, 3),
    per AS (SELECT doc_id, source, SUM(cnt) AS n,
              list_reduce(list(round(cnt * log2(cnt), 6) ORDER BY ch),
                          (x, y) -> x + y) AS s
            FROM cnt GROUP BY 1, 2),
    e AS (SELECT source, round(log2(n) - s / n, 6) + 0.0 AS e FROM per)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN e < {_ENTROPY_GATE} THEN 1 ELSE 0 END) AS BIGINT)
        AS n_flagged,
      min(e) + 0.0 AS min_entropy, max(e) + 0.0 AS max_entropy,
      round(CAST(sum(CAST(round(e * 1000000, 0) AS BIGINT)) AS DOUBLE)
            / (count(*) * 1000000.0), 6) + 0.0 AS mean_entropy
    FROM e GROUP BY source ORDER BY source
    """,
    tags=("llm", "text", "quality", "entropy"),
)
def q_char_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy gate: per document,
    H = log2(n) − (Σ c·log2 c)/n over character counts c, flagged below
    {gate} bits/char; served per source as (n_docs, n_flagged, min/max/
    mean entropy). Entropy catches the degenerate-text failure modes the
    suite's length/punctuation/stopword heuristics
    ([q:text_quality_score], [q:text_c4_style_gate]) are blind to:
    repeated-character padding scores LOW, while hex/base64 blobs and
    uniform keyboard mash score anomalously HIGH — both tails are
    curation rejects.

    Determinism: counts are exact integers; the only irrational terms
    (c·log2 c) are rounded to the 6-dp grid and folded IN CHARACTER
    ORDER on both sides (array_sort + aggregate ↔ list(... ORDER BY ch)
    + list_reduce), so the per-doc sum is bit-identical; the served mean
    is an exact micro-unit integer sum with one final double division
    (the float-accumulation rule — no AVG(double) anywhere).

    Scale shape: the char explode is scan-local fan-out (O(chars) rows,
    no shuffle); the (doc, char) count combines map-side down to each
    doc's alphabet (≤ a few hundred rows per doc); the per-doc fold is
    over that bounded alphabet (collect_list is alphabet-bounded, never
    corpus-bounded); the source rollup is |sources| rows. Two linear
    passes, zero UDFs, whole-stage codegen throughout."""
    d = _t(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")
        ).alias("ch"),
    )
    cnt = ch.groupBy("doc_id", "source", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    per = cnt.groupBy("doc_id", "source").agg(
        F.sum("cnt").alias("n"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(ch, cnt))), "
            "cast(0.0 as double), "
            "(acc, x) -> acc + round(x.cnt * log2(x.cnt), 6))"
        ).alias("s"),
    )
    e = per.select(
        "source",
        (F.round(F.log2("n") - F.col("s") / F.col("n"), 6) + F.lit(0.0)).alias("e"),
    )
    return (
        e.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(F.col("e") < F.lit(_ENTROPY_GATE), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_flagged"),
            (F.min("e") + F.lit(0.0)).alias("min_entropy"),
            (F.max("e") + F.lit(0.0)).alias("max_entropy"),
            F.sum(F.round(F.col("e") * 1000000, 0).cast("long")).alias("micro"),
        )
        .select(
            "source",
            "n_docs",
            "n_flagged",
            "min_entropy",
            "max_entropy",
            (
                F.round(
                    F.col("micro").cast("double")
                    / (F.col("n_docs") * F.lit(1000000.0)),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_entropy"),
        )
        .orderBy("source")
    )


# ==========================================================================
# Bloom-filter semi-join pruning
# ==========================================================================

_BLOOM_M = 8192  # bits — ~13.5 bits/key at the observed key count
_BLOOM_K = 3  # hash functions
_BLOOM_PRICE = 480000  # key-set predicate: high-value orders


def _bloom_bit(key: Column, j: int) -> Column:
    """Bloom hash j of an integer key: md5('j|key') first 8 hex → bigint
    mod m. md5-on-strings is the engine's cross-engine hash (DuckDB has
    no xxhash64)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{j}|"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
    )


def _duck_bloom_hashes(key: str) -> str:
    """CTE fragment computing md5 columns m0..m{k-1} for ``key``."""
    return ", ".join(
        f"md5('{j}|' || CAST({key} AS VARCHAR)) AS m{j}" for j in range(_BLOOM_K)
    )


@query(
    "sketch_bloom_prune",
    oracle=f"""
    WITH keys AS (SELECT o_orderkey AS k FROM orders
                  WHERE o_totalprice > {_BLOOM_PRICE}),
    kh AS (SELECT k, {_duck_bloom_hashes('k')} FROM keys),
    kb AS (SELECT DISTINCT b FROM (
           {' UNION ALL '.join(f'SELECT {_duck_hex8(f"m{j}")} % {_BLOOM_M} AS b FROM kh' for j in range(_BLOOM_K))})),
    arr AS (SELECT list(b ORDER BY b) AS bits FROM kb),
    ph AS (SELECT l_orderkey, {_duck_bloom_hashes('l_orderkey')} FROM lineitem),
    pb AS (SELECT l_orderkey,
             {', '.join(f'{_duck_hex8(f"m{j}")} % {_BLOOM_M} AS h{j}' for j in range(_BLOOM_K))}
           FROM ph),
    fl AS (SELECT pb.l_orderkey,
             ({' AND '.join(f'list_contains(arr.bits, pb.h{j})' for j in range(_BLOOM_K))}) AS pass,
             (pb.l_orderkey IN (SELECT k FROM keys)) AS is_true
           FROM pb CROSS JOIN arr),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_probe_rows,
              CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
              CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true_rows
            FROM fl),
    nk AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM keys)
    SELECT nk.n_keys, agg.n_probe_rows, agg.n_bloom_pass, agg.n_true_rows,
      agg.n_bloom_pass - agg.n_true_rows AS n_false_pos,
      round(CAST(agg.n_bloom_pass - agg.n_true_rows AS DOUBLE)
            / CAST(agg.n_probe_rows - agg.n_true_rows AS DOUBLE), 6) + 0.0
        AS fp_row_rate
    FROM agg CROSS JOIN nk
    """,
    tags=("sketch", "bloom", "pruning", "join"),
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, measured: a selective dimension
    predicate (high-value orders) builds an m=8192-bit / k=3-hash Bloom
    set; the fact scan (lineitem) probes it and the query reports exactly
    what a pruning filter's operator stats would — probe rows, Bloom
    passes, true matches, false positives, and the realized
    false-positive ROW rate. This is the explicit spelling of Spark's own
    runtime row-group/semi-join filtering (and the reference's index-scan
    pruning): at 100 TB the broadcast bitset prunes the fact scan WITHOUT
    shuffling the fact table, and the fp rate is the number you watch to
    know the filter is still worth its broadcast.

    Scale shape: the key side aggregates to ≤ m distinct bit positions
    (a bounded broadcast ~the bitset itself — never the key rows); the
    probe is a scan-local expression over the broadcast array (zero
    fact-side shuffle, zero UDFs); truth is a broadcast left join against
    the bounded key set; the verdict is one map-side-combinable global
    aggregate. Every count is exact; the one division is final, rounded
    to 6 dp."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    keys = orders.where(F.col("o_totalprice") > _BLOOM_PRICE).select(
        F.col("o_orderkey").alias("k")
    )
    bits = (
        keys.select(
            F.explode(
                F.array(*[_bloom_bit(F.col("k"), j) for j in range(_BLOOM_K)])
            ).alias("b")
        )
        .agg(F.array_sort(F.collect_set("b")).alias("bits"))
    )
    # truth join carries NO static broadcast hint: `keys` is
    # data-dependent (all orders above a price predicate), and the
    # round-6 policy is to never hint a side AQE can't demote — at bench
    # scales AQE still broadcasts it from runtime bytes; at 100 TB it
    # degrades gracefully to a shuffle join instead of an OOM. The Bloom
    # BITSET broadcast above stays hinted: it is ≤ m=8192 positions by
    # construction, a constant bound.
    probed = (
        li.crossJoin(F.broadcast(bits))
        .join(keys, F.col("l_orderkey") == F.col("k"), "left")
        .select(
            F.when(
                sum(
                    [
                        F.array_contains(
                            F.col("bits"), _bloom_bit(F.col("l_orderkey"), j)
                        ).cast("int")
                        for j in range(_BLOOM_K)
                    ],
                    F.lit(0),
                )
                == _BLOOM_K,
                1,
            )
            .otherwise(0)
            .alias("pass"),
            F.when(F.col("k").isNotNull(), 1).otherwise(0).alias("is_true"),
        )
    )
    agg = probed.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe_rows"),
        F.sum("pass").cast("long").alias("n_bloom_pass"),
        F.sum("is_true").cast("long").alias("n_true_rows"),
    )
    nk = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    return agg.crossJoin(F.broadcast(nk)).select(
        "n_keys",
        "n_probe_rows",
        "n_bloom_pass",
        "n_true_rows",
        (F.col("n_bloom_pass") - F.col("n_true_rows")).alias("n_false_pos"),
        (
            F.round(
                (F.col("n_bloom_pass") - F.col("n_true_rows")).cast("double")
                / (F.col("n_probe_rows") - F.col("n_true_rows")).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("fp_row_rate"),
    )


@query(
    "text_shingle_novelty",
    oracle="""
    WITH toks AS (SELECT doc_id, source, text, string_split(text, ' ') AS tk
                  FROM documents),
    g AS (SELECT doc_id, source,
            CASE WHEN len(tk) < 3 THEN [text]
            ELSE list_transform(range(1, len(tk) - 1),
                 i -> concat_ws(' ', tk[i], tk[i + 1], tk[i + 2])) END AS grams
          FROM toks),
    ex AS (SELECT doc_id, source, unnest(list_distinct(grams)) AS sh FROM g),
    fst AS (SELECT sh, MIN(doc_id) AS first_doc FROM ex GROUP BY 1)
    SELECT ex.source,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN ex.doc_id = fst.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(SUM(CASE WHEN ex.doc_id = fst.first_doc THEN 1 ELSE 0
                          END) AS DOUBLE) / COUNT(*), 6) + 0.0 AS novelty_rate
    FROM ex JOIN fst USING (sh)
    GROUP BY ex.source
    """,
    tags=("text", "novelty", "curation"),
)
def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source shingle NOVELTY rate — what fraction of a feed's
    word-3-gram shingles appear there FIRST (earliest doc_id in the
    corpus)? The acquisition-side twin of the dedup family: dedup asks
    "how much of this is copied?", novelty asks "how much NEW content
    does paying for this feed actually buy?" — the number a curation
    team reads before renewing a data source. First-occurrence-by-min-id
    is the same deterministic canonical rule the keep-lowest dedup path
    uses (functions/dedup.py shingles; grams fallback [text] for <3-token
    docs matches the signature kernel exactly).

    Scale shape: per-doc shingle dedup is scan-local (array_distinct
    before the explode — zero-shuffle); first-occurrence is
    MIN(doc_id) OVER (PARTITION BY sh) — ONE shingle-keyed exchange, no
    self-join, the exploded rows are never shuffled twice (measured: the
    groupBy+join spelling of the same semantics re-ran the explode and
    timed 5.8 s vs 2.6 s at ~sf1); the verdict is one
    map-side-combinable |sources|-row groupBy. Never all-pairs, never a
    driver collect; the shingle exchange is the same O(tokens)
    inverted-index shape as the Jaccard/containment pair table."""
    from pyspark.sql import Window

    from mapreduceindex_demo_spark.functions.dedup import shingles

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", shingles("text").alias("grams")
    )
    ex = d.select(
        "doc_id", "source", F.explode(F.array_distinct("grams")).alias("sh")
    )
    j = ex.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("sh"))
    )
    novel = (F.col("doc_id") == F.col("first_doc")).cast("int")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(novel).cast("long").alias("n_novel"),
        (
            F.round(
                F.sum(novel).cast("double") / F.count(F.lit(1)).cast("double"), 6
            )
            + F.lit(0.0)
        ).alias("novelty_rate"),
    )


# ---------------------------------------------------------------------------
# round 8b: PMI collocation mining over the document corpus
# ---------------------------------------------------------------------------

_PMI_MIN_CNT = 5
_PMI_TOPK = 20
#: the PMI formula, spelled ONCE and identically for both engines: all three
#: counts are exact BIGINTs cast to double, multiplied in the same
#: association order, one ln(), rounded to the 6-dp grid.
_PMI_EXPR = (
    "round(ln((CAST(cnt2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))"
    " / (CAST(n2 AS DOUBLE) * CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))), 6)"
    " + 0.0"
)

_PMI_ORACLE = f"""
    WITH tk AS (SELECT string_split(text, ' ') AS w FROM documents),
    big AS (SELECT unnest(list_transform(range(1, len(w)),
                   i -> w[i] || ' ' || w[i + 1])) AS gram
            FROM tk),
    c2 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM big GROUP BY 1),
    c1 AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
    u AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt1 FROM c1 GROUP BY 1),
    tot AS (SELECT (SELECT CAST(SUM(cnt1) AS BIGINT) FROM u) AS n1,
                   (SELECT CAST(SUM(cnt2) AS BIGINT) FROM c2) AS n2),
    scored AS (
      SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
             cnt2, ux.cnt1 AS cx, uy.cnt1 AS cy, tot.n1, tot.n2
      FROM c2
      JOIN u ux ON ux.term = split_part(gram, ' ', 1)
      JOIN u uy ON uy.term = split_part(gram, ' ', 2)
      CROSS JOIN tot
      WHERE cnt2 >= {_PMI_MIN_CNT})
    SELECT w1, w2, cnt2 AS pair_cnt, {_PMI_EXPR} AS pmi
    FROM scored
    ORDER BY pmi DESC, w1, w2
    LIMIT {_PMI_TOPK}
    """


@query(
    "text_pmi_collocations",
    oracle=_PMI_ORACLE,
    tags=("llm", "text", "collocation", "pmi"),
)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations by pointwise mutual information
    (Church & Hanks 1990), minimum pair count 5 — the statistic
    that separates REAL multiword units ("los angeles") from merely
    frequent pairs ("of the"), which is why tokenizer-vocabulary and
    phrase-mining passes (word2vec's phrase join, BPE seeding) run it
    over the corpus before training. Completes the n-gram statistics
    ladder: [q:frequent_bigrams_per_lang] counts pairs,
    [q:text_bigram_logprob] scores documents under the pair LM, and this
    ranks the pairs themselves by association strength.

    PMI = ln(p(xy) / (p(x)·p(y))) computed on exact integer counts as
    ln(cnt2·N1² / (N2·cx·cy)) in one shared double expression, so both
    engines evaluate the identical IEEE product chain (the
    [q:text_bigram_logprob] ln-parity precedent) and ties on the 6-dp
    grid break on (w1, w2).

    Scale shape: bigram extraction is the zero-shuffle Generate family;
    pair and unigram counts are combiner-friendly groupBys; the scoring
    join is pair-table × two unigram lookups (AQE broadcasts the unigram
    table when it fits — vocabulary, not corpus, sized) and the corpus
    totals ride a 1-row broadcast; top-k is a TakeOrdered, no global
    sort. Nothing is ever quadratic in vocabulary — only observed
    adjacent pairs are scored."""
    d = _t(spark, sf_dir, "documents")
    w = "split(text, ' ')"
    bg = F.expr(spark_bigram_sql(w))
    big = d.select(F.explode(bg).alias("gram"))
    # c2 feeds two consumers (the n2 total, the scored pairs) and u
    # three (the n1 total, both unigram lookups) — cache each groupBy
    # result or its explode subtree re-runs per branch (MEMORY_ONLY:
    # evictable, never unpersisted — the triangle rule)
    c2 = big.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("cnt2")
    ).persist(StorageLevel.MEMORY_ONLY)
    u = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt1"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    tot = u.agg(F.sum("cnt1").cast("long").alias("n1")).crossJoin(
        F.broadcast(c2.agg(F.sum("cnt2").cast("long").alias("n2")))
    )
    scored = (
        c2.where(F.col("cnt2") >= _PMI_MIN_CNT)
        .select(
            F.substring_index("gram", " ", 1).alias("w1"),
            F.substring_index("gram", " ", -1).alias("w2"),
            "cnt2",
        )
        .join(u.select(F.col("term").alias("w1"), F.col("cnt1").alias("cx")), "w1")
        .join(u.select(F.col("term").alias("w2"), F.col("cnt1").alias("cy")), "w2")
        .crossJoin(F.broadcast(tot))
    )
    return (
        scored.select(
            "w1",
            "w2",
            F.col("cnt2").alias("pair_cnt"),
            F.expr(_PMI_EXPR).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# round 13: CCNet-style per-language perplexity buckets
# ---------------------------------------------------------------------------

#: the per-(lang, bigram) negative log-probability under the add-0.5
#: smoothed per-language bigram LM, as a 6-dp MICRO-UNIT BIGINT: one
#: ln-chain per VOCABULARY entry (never per token), spelled identically
#: for both engines over exact BIGINT counts (cnt2, chc, vsz columns),
#: rounded then integer-cast (round-before-cast so the truncating and
#: rounding casts agree) — per-document totals are then exact integer
#: sums, order-independent across engines (the [q:curation_dsir_weights]
#: pattern at order 2).
_CCNET_NLP_MICRO = (
    "CAST(round(-ln((CAST(cnt2 AS DOUBLE) + 0.5)"
    " / (CAST(chc AS DOUBLE) + 0.5 * CAST(vsz AS DOUBLE)))"
    " * 1000000, 0) AS BIGINT)"
)

_CCNET_ORACLE = f"""
    WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS w
                FROM documents),
    big AS (SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(w)),
                          i -> w[i] || ' ' || w[i + 1])) AS gram
            FROM tk),
    dbc AS (SELECT doc_id, lang, gram, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM big GROUP BY 1, 2, 3),
    c2 AS (SELECT lang, gram, CAST(SUM(cnt) AS BIGINT) AS cnt2
           FROM dbc GROUP BY 1, 2),
    ch AS (SELECT lang, split_part(gram, ' ', 1) AS h,
                  CAST(SUM(cnt2) AS BIGINT) AS chc
           FROM c2 GROUP BY 1, 2),
    v AS (SELECT lang, CAST(COUNT(DISTINCT term) AS BIGINT) AS vsz
          FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
                FROM documents) GROUP BY 1),
    lp AS (SELECT c2.lang, c2.gram, {_CCNET_NLP_MICRO} AS nlp
           FROM c2
           JOIN ch ON ch.lang = c2.lang
                  AND ch.h = split_part(c2.gram, ' ', 1)
           JOIN v ON v.lang = c2.lang),
    docs AS (SELECT dbc.doc_id, dbc.lang,
                    CAST(SUM(cnt) AS BIGINT) AS nb,
                    CAST(SUM(cnt * lp.nlp) AS BIGINT) AS tot
             FROM dbc JOIN lp ON lp.lang = dbc.lang AND lp.gram = dbc.gram
             GROUP BY 1, 2),
    scored AS (SELECT lang, doc_id, nb,
                 CAST(round(CAST(tot AS DOUBLE) / CAST(nb AS DOUBLE), 0)
                      AS BIGINT) AS avg_micro
               FROM docs),
    freq AS (SELECT lang, avg_micro, CAST(COUNT(*) AS BIGINT) AS c
             FROM scored GROUP BY 1, 2),
    cum AS (SELECT lang, avg_micro,
                   SUM(c) OVER (PARTITION BY lang ORDER BY avg_micro) AS cc,
                   SUM(c) OVER (PARTITION BY lang) AS n
            FROM freq),
    bounds AS (SELECT lang,
                 MIN(CASE WHEN cc * 3 >= n THEN avg_micro END) AS q1,
                 MIN(CASE WHEN cc * 3 >= 2 * n THEN avg_micro END) AS q2
               FROM cum GROUP BY 1),
    lab AS (SELECT s.lang, s.nb, s.avg_micro,
              CASE WHEN s.avg_micro <= b.q1 THEN 'head'
                   WHEN s.avg_micro <= b.q2 THEN 'middle'
                   ELSE 'tail' END AS bucket
            FROM scored s JOIN bounds b ON b.lang = s.lang)
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nb) AS BIGINT) AS n_bigrams,
           round(CAST(SUM(avg_micro) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 6) + 0.0
             AS mean_nlp
    FROM lab GROUP BY 1, 2
    ORDER BY lang, bucket
    """


@query(
    "text_ccnet_ppl_buckets",
    oracle=_CCNET_ORACLE,
    tags=("llm", "text", "curation", "lm", "ccnet", "perplexity"),
)
def q_text_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.,
    LREC 2020 §4.3 — the head/middle/tail split CCNet, LLaMA, and
    RedPajama-Data use to stratify CommonCrawl by LM quality): fit a
    per-language bigram LM (add-0.5 smoothing, the order-2 stand-in for
    CCNet's 5-gram KenLM — same machinery as [q:text_bigram_logprob]
    but CONDITIONED per language, since cross-language perplexities are
    not comparable), score every document by mean negative log-prob,
    and split each language's distribution into terciles by VALUE
    thresholds. Served per (lang, bucket): document count, bigram mass,
    and mean score — head = most fluent third, the slice kept
    unconditionally in the published pipelines.

    Threshold semantics: the tercile boundaries are exact integer
    count-percentiles (q_k = the smallest score with cumulative count
    >= k·n/3, compared as cc·3 >= k·n — no float division), computed
    from the (lang, score) FREQUENCY table, and documents are assigned
    by comparison against the boundary VALUES — ties share a bucket, so
    bucket sizes deviate from n/3 exactly when score ties straddle a
    boundary (CCNet's own percentile thresholds behave the same way;
    an ntile spelling would instead split ties arbitrarily by doc id).
    Domain note (r13b review): documents with fewer than 2 tokens have
    no bigrams, are unscorable under a bigram LM, and appear in NO
    bucket — SUM(n_docs) counts scorable documents, not the corpus
    (both engines and the Python-mirror test share the exclusion; the
    generated corpus has no such documents, so the rollup partitions it
    exactly at every test SF).

    Determinism/parity: per-vocabulary-entry nlp as a micro-unit BIGINT
    (``_CCNET_NLP_MICRO``, one ln per (lang, bigram), never per token),
    per-doc totals as exact integer sums, one rounded division per doc
    for the integer mean score, boundaries and buckets all integer
    comparisons.

    Scale shape: one corpus-sized (doc, lang, gram) exchange feeds the
    LM counts and the scoring join (persisted MEMORY_ONLY, the DSIR
    pattern); the LM tables are vocabulary-sized equi-join sides (AQE
    broadcasts them when they fit); the tercile machinery never touches
    doc-sized data with a window — the cumulative count runs over the
    (lang, distinct-score) frequency table, metadata-sized like the SNM
    offsets table, and bucket ASSIGNMENT is a broadcast join of ≤|langs|
    boundary rows + a scan-local CASE. No per-language sort of the
    document set anywhere — the straggler an ntile-over-lang spelling
    would create at 100 TB."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    w = "split(text, ' ')"
    bg = F.expr(spark_bigram_sql(w))
    dbc = (
        d.select("doc_id", "lang", F.explode(bg).alias("gram"))
        .groupBy("doc_id", "lang", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    c2 = dbc.groupBy("lang", "gram").agg(
        F.sum("cnt").cast("long").alias("cnt2")
    )
    ch = c2.groupBy(
        "lang", F.substring_index("gram", " ", 1).alias("h")
    ).agg(F.sum("cnt2").cast("long").alias("chc"))
    v = (
        d.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang")
        .agg(F.countDistinct("term").cast("long").alias("vsz"))
    )
    lp = (
        c2.withColumn("h", F.substring_index("gram", " ", 1))
        .join(ch, ["lang", "h"])
        .join(F.broadcast(v), "lang")
        .select("lang", "gram", F.expr(_CCNET_NLP_MICRO).alias("nlp"))
    )
    docs = (
        dbc.join(lp, ["lang", "gram"])
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").cast("long").alias("nb"),
            F.sum(F.col("cnt") * F.col("nlp")).cast("long").alias("tot"),
        )
    )
    scored = docs.select(
        "lang",
        "doc_id",
        "nb",
        F.round(F.col("tot").cast("double") / F.col("nb").cast("double"), 0)
        .cast("long")
        .alias("avg_micro"),
    ).persist(StorageLevel.MEMORY_ONLY)
    freq = scored.groupBy("lang", "avg_micro").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wcum = Window.partitionBy("lang").orderBy("avg_micro")
    wall = Window.partitionBy("lang")
    cum = freq.select(
        "lang",
        "avg_micro",
        F.sum("c").over(wcum).alias("cc"),
        F.sum("c").over(wall).alias("n"),
    )
    bounds = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cc") * 3 >= F.col("n"), F.col("avg_micro"))
        ).alias("q1"),
        F.min(
            F.when(F.col("cc") * 3 >= 2 * F.col("n"), F.col("avg_micro"))
        ).alias("q2"),
    )
    bucket = (
        F.when(F.col("avg_micro") <= F.col("q1"), "head")
        .when(F.col("avg_micro") <= F.col("q2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(F.broadcast(bounds), "lang")
        .select("lang", bucket.alias("bucket"), "nb", "avg_micro")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nb").cast("long").alias("n_bigrams"),
            (
                F.round(
                    F.sum("avg_micro").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    / 1000000.0,
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_nlp"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# round 13b: BPE tokenizer TRAINING — the first-k merge mining rounds
# ---------------------------------------------------------------------------

#: merge rounds served. Fixed and unrolled (both engines run the identical
#: finite chain); a production vocabulary is this loop run ~30k times with
#: the same per-round cost structure.
_BPE_MERGES = 3
#: symbol-boundary marker for the merge rewrite. Must not occur in any
#: corpus token (the synthetic vocabulary is [a-y]; '#', '<', '/', '>'
#: are free) — the encode wraps EVERY symbol as '#sym#', so a pair
#: pattern '#x##y#' can only match at true symbol boundaries and
#: consecutive occurrences never share characters (greedy left-to-right
#: replace() then merges both, matching the reference BPE rewrite).
_BPE_MARK = "#"
#: end-of-word symbol (Sennrich et al. 2016 §3.2)
_BPE_EOW = "</w>"


def _bpe_seq_rewrite_sql(seq: str, pair: str) -> str:
    """The ONE spelling (identical tokens in Spark SQL and DuckDB) of
    applying merge ``pair`` ("x y") to the space-delimited symbol
    sequence ``seq``: wrap every symbol in markers, replace the wrapped
    pair with the wrapped merged symbol, unwrap."""
    m = _BPE_MARK
    enc = f"'{m}' || replace({seq}, ' ', '{m}{m}') || '{m}'"
    pat = f"'{m}' || replace({pair}, ' ', '{m}{m}') || '{m}'"
    rep = f"'{m}' || replace({pair}, ' ', '') || '{m}'"
    body = f"replace({enc}, {pat}, {rep})"
    return (
        f"replace(substring({body}, 2, length({body}) - 2), '{m}{m}', ' ')"
    )


def _bpe_duck_iter(i: int, prev: str) -> str:
    """One unrolled BPE training round in DuckDB SQL: weighted adjacent
    symbol-pair counts over the word-type table, argmax with the total
    (count DESC, pair ASC) tiebreak, greedy left-to-right rewrite."""
    return f"""
    p{i} AS (SELECT unnest(list_transform(range(1, len(string_split(seq, ' '))),
                   j -> (string_split(seq, ' '))[j] || ' '
                        || (string_split(seq, ' '))[j + 1])) AS pair, cnt
             FROM {prev}),
    b{i} AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pc FROM p{i} GROUP BY 1
             ORDER BY pc DESC, pair LIMIT 1),
    r{i} AS (SELECT {_bpe_seq_rewrite_sql('seq', 'pair')} AS seq, cnt
             FROM {prev} CROSS JOIN b{i})"""


_BPE_ORACLE = f"""
    WITH wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM
                  (SELECT unnest(string_split(text, ' ')) AS w
                   FROM documents) GROUP BY 1),
    r0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g'))
                    || ' {_BPE_EOW}' AS seq, cnt FROM wf),
    {_bpe_duck_iter(1, 'r0')},
    {_bpe_duck_iter(2, 'r1')},
    {_bpe_duck_iter(3, 'r2')}
    SELECT * FROM (
      SELECT 1 AS merge_rank, pair, pc AS pair_count FROM b1
      UNION ALL SELECT 2, pair, pc FROM b2
      UNION ALL SELECT 3, pair, pc FROM b3)
    ORDER BY merge_rank
    """


def _train_merges(
    spark: SparkSession, sf_dir: str, argmax, rounds: int, final_seq: bool = False
):
    """The ONE Spark spelling of the merge-training loop, shared by the BPE
    merge-mining and apply queries and the WordPiece trainer, which differ
    only in ``argmax``: the word-type table → its 1-row best-pair frame
    (a ``pair`` column plus the counts the caller serves). Returns
    (bests, seq_final) where ``bests`` is the per-round argmax frame list
    and ``seq_final`` the fully-rewritten word-type table — built (and
    persisted) ONLY when ``final_seq`` is requested, since the merge
    queries have no reader for the last rewrite (r13b review)."""
    d = _t(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    seq = wf.select(
        F.concat(
            F.trim(F.regexp_replace("w", "(.)", "$1 ")), F.lit(" " + _BPE_EOW)
        ).alias("seq"),
        "cnt",
    ).persist(StorageLevel.MEMORY_ONLY)

    # Each round's argmax is COLLECTED (1 row — bounded metadata, the
    # affected-bucket-id precedent) instead of left lazy: a lazy argmax
    # keeps round i's word-type cache live until the caller's final
    # action, so superseded |vocab|-row rounds accumulated for the life
    # of the session (r14 ADVICE). Round i's argmax job materializes
    # seq_i's cache, which is exactly when seq_{i-1} loses its last
    # reader — no extra materialization job is ever scheduled.
    bests = []
    prev = None
    for i in range(rounds):
        frame = argmax(seq)
        rows = frame.collect()
        if prev is not None:
            prev.unpersist()
        # a DDL schema keeps every column nullable, as the served tables were
        best = spark.createDataFrame(rows, frame.schema.simpleString())
        bests.append(best)
        if final_seq or i < rounds - 1:
            prev = seq
            seq = seq.crossJoin(F.broadcast(best)).select(
                F.expr(_bpe_seq_rewrite_sql("seq", "pair")).alias("seq"), "cnt"
            ).persist(StorageLevel.MEMORY_ONLY)
    if final_seq:
        # materialize the final rewrite off prev's cache, then drop prev;
        # the returned frame keeps only its own cache live
        seq.count()
        if prev is not None:
            prev.unpersist()
    else:
        seq.unpersist()
    return bests, (seq if final_seq else None)


def _seq_pairs(seq: DataFrame) -> DataFrame:
    """Weighted adjacent symbol-pair counts ``(pair, pc)`` of a word-type
    table."""
    return (
        seq.select(
            F.explode(F.expr(spark_bigram_sql("split(seq, ' ')"))).alias("pair"),
            "cnt",
        )
        .groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("pc"))
    )


def _bpe_argmax(seq: DataFrame) -> DataFrame:
    """BPE's pick: the most frequent pair (count DESC, pair ASC)."""
    return _seq_pairs(seq).orderBy(F.desc("pc"), F.asc("pair")).limit(1)


def _merge_table(bests: list[DataFrame], *cols: str) -> DataFrame:
    """The served merge table: one row per round, ``merge_rank`` first,
    then ``cols`` (SQL expressions over the round's argmax row)."""
    out = None
    for i, best in enumerate(bests, start=1):
        row = best.selectExpr(f"{i} AS merge_rank", *cols)
        out = row if out is None else out.unionAll(row)
    return out.orderBy("merge_rank")


@query(
    "text_bpe_train_merges",
    oracle=_BPE_ORACLE,
    tags=("llm", "text", "tokenizer", "bpe"),
)
def q_text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — the first ``_BPE_MERGES`` learned merges
    (Sennrich et al. 2016, the subword algorithm behind the GPT-2/LLaMA
    tokenizer family): initialize every word type as its character
    sequence plus an end-of-word symbol, then repeatedly (a) count
    adjacent symbol pairs weighted by word frequency, (b) pick the most
    frequent pair (total tiebreak: count DESC, pair ASC), (c) rewrite
    every sequence merging that pair greedily left-to-right. Serves
    (merge_rank, pair, pair_count) — the head of the merge table a real
    training run would persist. [q:text_bpe_token_stats] APPLIES a
    BPE-ish tokenizer; this trains one, completing the tokenizer
    lifecycle.

    The merge rewrite is the marker-wrap spelling
    (``_bpe_seq_rewrite_sql``): every symbol is wrapped as ``#sym#`` so
    the pair pattern matches only at whole-symbol boundaries (a pair
    ending in 'a' can never merge inside a longer symbol), and because
    consecutive pair occurrences share no characters, both engines'
    non-overlapping left-to-right ``replace`` reproduces the reference
    greedy rewrite ('a a a' -> ('aa','a')). Pair counts are the naive
    per-occurrence adjacency counts over exact BIGINTs, as in the
    reference implementation.

    Scale shape: Sennrich's algorithm is defined on the WORD-TYPE
    frequency table, so the corpus is touched exactly once (the
    wordcount exchange — map-side combined); every training round then
    runs on the vocabulary-sized table: one combiner-friendly pair-count
    groupBy, a 1-row TakeOrdered argmax broadcast into the rewrite, no
    corpus rescans, no quadratic term anywhere. At 100 TB the corpus
    pass dominates and the ~|vocab| rounds are metadata-scale — the same
    bounded-iteration-table posture as the SNM offsets
    ([q:er_sorted_neighborhood]). The word-frequency table is persisted
    MEMORY_ONLY (the PMI triangle rule) because round 1 reads it twice
    (pair counts + rewrite).

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    tokenizer surface; this extends the LLM-pipeline text family beyond
    reference parity."""
    bests, _ = _train_merges(spark, sf_dir, _bpe_argmax, _BPE_MERGES)
    return _merge_table(bests, "pair", "pc AS pair_count")


# ---------------------------------------------------------------------------
# round 13b: Zipf rank-frequency fit (lexical-law corpus diagnostic)
# ---------------------------------------------------------------------------

#: the least-squares slope/intercept/r² over (ln rank, ln count), spelled
#: ONCE for both engines as one expression chain over the five raw sums —
#: exact integer counts enter through ln, only the final statistics are
#: rounded (the [q:text_pmi_collocations] ln-parity precedent). The
#: variance denominators are nullif-guarded (r13 ADVICE): on a degenerate
#: corpus (1-term vocabulary, or all term counts equal so the ln-count
#: variance is 0) Spark's Divide serves NULL on a zero divisor while
#: DuckDB's default ieee_floating_point_ops serves inf/nan — nullif(den,
#: 0) makes BOTH engines serve NULL exactly where the fit is undefined.
#: the denominators are rounded to the 6-dp grid BEFORE the nullif: a
#: variance that is ANALYTICALLY zero (all-equal inputs) accumulates
#: engine- and partitioning-dependent fp residue (~1e-13) through the
#: sums, so a bare nullif(den, 0) fires in one engine and not the other
#: — measured as a flaky 0.0-vs-NULL Heaps r² divergence (r14; the
#: driver run and the test run of the SAME code disagreed because
#: shuffle partitioning changed Spark's summation order). Rounding
#: first maps the residue to exact 0 in both engines; genuinely
#: non-degenerate denominators are O(1)+ and unaffected at 1e-6.
_ZIPF_STATS = {
    "slope": (
        "round((nn * sxy - sx * sy)"
        " / nullif(round(nn * sxx - sx * sx, 6), 0), 6) + 0.0"
    ),
    "intercept": (
        "round((sy - ((nn * sxy - sx * sy)"
        " / nullif(round(nn * sxx - sx * sx, 6), 0)) * sx)"
        " / nn, 6) + 0.0"
    ),
    "r2": (
        "round(((nn * sxy - sx * sy) * (nn * sxy - sx * sy))"
        " / nullif(round((nn * sxx - sx * sx) * (nn * syy - sy * sy), 6),"
        " 0), 6) + 0.0"
    ),
}

_ZIPF_ORACLE = f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
                  FROM documents),
    vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM toks GROUP BY 1),
    ranked AS (SELECT cnt,
                 row_number() OVER (ORDER BY cnt DESC, term) AS rn
               FROM vocab),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
                 CAST(COUNT(*) AS BIGINT) AS n_terms,
                 CAST(SUM(cnt) AS BIGINT) AS total_tokens,
                 SUM(ln(CAST(rn AS DOUBLE))) AS sx,
                 SUM(ln(CAST(cnt AS DOUBLE))) AS sy,
                 SUM(ln(CAST(rn AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))) AS sxy,
                 SUM(ln(CAST(rn AS DOUBLE)) * ln(CAST(rn AS DOUBLE))) AS sxx,
                 SUM(ln(CAST(cnt AS DOUBLE)) * ln(CAST(cnt AS DOUBLE))) AS syy
          FROM ranked)
    SELECT n_terms, total_tokens,
           {_ZIPF_STATS['slope']} AS zipf_slope,
           {_ZIPF_STATS['intercept']} AS zipf_intercept,
           {_ZIPF_STATS['r2']} AS fit_r2
    FROM s
    """


@query(
    "text_zipf_fit",
    oracle=_ZIPF_ORACLE,
    tags=("llm", "text", "zipf", "diagnostics"),
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit — the lexical-law corpus diagnostic
    (Zipf 1949; Piantadosi 2014 reviews why natural text follows
    freq ∝ rank^slope with slope ≈ −1): least-squares line through
    (ln rank, ln count) over the term-frequency table, served as slope,
    intercept, and r². Curation teams read it as a corpus-health
    invariant — scraped boilerplate, deduplication bugs, or synthetic
    filler shift the slope and crater the fit (this generated corpus
    measures slope ≈ −0.17 at r² ≈ 0.05: a deliberately UN-Zipfian
    near-uniform 31-word vocabulary, which is exactly what the
    diagnostic is built to flag). Completes the corpus-statistics family beside
    [q:text_vocab_coverage] (head mass) and [q:text_unigram_drift]
    (per-source divergence).

    Determinism/parity: ln over exact BIGINT counts and ranks (the
    [q:text_pmi_collocations] precedent), the five raw sums reduced in
    one aggregate, and every served statistic is ONE shared expression
    chain over those sums (``_ZIPF_STATS``) rounded to the 6-dp grid —
    cross-engine summation-order differences sit ~8 orders below the
    grid step.

    Scale shape: one corpus exchange (the wordcount, map-side combined)
    reduces to the VOCABULARY-sized frequency table; the rank window
    orders that table, not the corpus (the [q:text_vocab_coverage]
    frequency-table-window precedent — single-task but
    vocabulary-bounded, never data-bounded), and the fit is a 1-row
    aggregate. Nothing doc-keyed anywhere."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    ranked = vocab.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("term")))
        .alias("rn"),
    )
    lx = F.log(F.col("rn").cast("double"))
    ly = F.log(F.col("cnt").cast("double"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(ly * ly).alias("syy"),
    )
    return s.selectExpr(
        "n_terms",
        "total_tokens",
        f"{_ZIPF_STATS['slope']} AS zipf_slope",
        f"{_ZIPF_STATS['intercept']} AS zipf_intercept",
        f"{_ZIPF_STATS['r2']} AS fit_r2",
    )


_BPE_APPLY_ORACLE = f"""
    WITH wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM
                  (SELECT unnest(string_split(text, ' ')) AS w
                   FROM documents) GROUP BY 1),
    r0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g'))
                    || ' {_BPE_EOW}' AS seq, cnt FROM wf),
    {_bpe_duck_iter(1, 'r0')},
    {_bpe_duck_iter(2, 'r1')},
    {_bpe_duck_iter(3, 'r2')},
    bef AS (SELECT CAST(SUM(length(text) + 1) AS BIGINT) AS tokens_before
            FROM documents),
    aft AS (SELECT CAST(COUNT(*) AS BIGINT) AS word_types,
                   CAST(SUM(cnt * len(string_split(seq, ' '))) AS BIGINT)
                     AS tokens_after
            FROM r3),
    voc AS (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS vocab_after
            FROM (SELECT unnest(string_split(seq, ' ')) AS s FROM r3))
    SELECT {_BPE_MERGES} AS n_merges, word_types, tokens_before,
           tokens_after,
           round(CAST(tokens_before AS DOUBLE)
                 / CAST(tokens_after AS DOUBLE), 6) + 0.0 AS compression,
           vocab_after
    FROM bef CROSS JOIN aft CROSS JOIN voc
    """


@query(
    "text_bpe_apply_merges",
    oracle=_BPE_APPLY_ORACLE,
    tags=("llm", "text", "tokenizer", "bpe", "fertility"),
)
def q_text_bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned BPE merges and measure what they bought — the
    tokenizer-fertility report that closes the lifecycle
    ([q:text_bpe_train_merges] learns the merge table; this applies it
    to the corpus and serves the numbers a tokenizer team tracks):
    corpus token count under the base character vocabulary
    (every character + one end-of-word symbol per word occurrence —
    computable scan-locally as Σ length(text)+1 per document), the
    count after the ``_BPE_MERGES`` learned merges, their ratio (the
    compression each merge buys — Sennrich's §5 evaluation), and the
    symbol-vocabulary size after merging (base characters + end-of-word
    + the surviving merged symbols).

    Rides the SHARED training loop (``_train_merges`` — one Spark spelling
    for every merge trainer, the ``_dsir_weight_frame`` precedent), with
    ``final_seq=True`` so the last round's rewrite — dead code for the
    merge-mining query — is built and persisted here where it has two
    readers (the token sum and the vocabulary count).

    Determinism: every served number is an exact integer except one
    rounded division. Scale shape: identical to the training query (one
    corpus exchange, vocabulary-sized rounds) plus one scan-local
    aggregate over documents for the base-vocab token count — the apply
    itself never rescans the corpus because Sennrich tokenization is a
    pure function of the word-TYPE table."""
    bests, seqf = _train_merges(
        spark, sf_dir, _bpe_argmax, _BPE_MERGES, final_seq=True
    )
    d = _t(spark, sf_dir, "documents")
    bef = d.agg(
        F.sum(F.length("text") + 1).cast("long").alias("tokens_before")
    )
    aft = seqf.agg(
        F.count(F.lit(1)).cast("long").alias("word_types"),
        F.sum(F.col("cnt") * F.size(F.split("seq", " ")))
        .cast("long")
        .alias("tokens_after"),
    )
    voc = (
        seqf.select(F.explode(F.split("seq", " ")).alias("s"))
        .agg(F.countDistinct("s").cast("long").alias("vocab_after"))
    )
    return (
        aft.crossJoin(F.broadcast(bef))
        .crossJoin(F.broadcast(voc))
        .select(
            F.lit(_BPE_MERGES).alias("n_merges"),
            "word_types",
            "tokens_before",
            "tokens_after",
            (
                F.round(
                    F.col("tokens_before").cast("double")
                    / F.col("tokens_after").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("compression"),
            "vocab_after",
        )
    )


# ---------------------------------------------------------------------------
# round 14: interpolated Kneser-Ney bigram LM (the KenLM smoothing method)
# ---------------------------------------------------------------------------

#: absolute discount. 0.75 is the textbook value (Chen-Goodman 1998 report
#: D in [0.7, 0.8] optimal across corpora) and is exactly representable in
#: binary, so the discount itself adds zero cross-engine float surface.
_KN_D = "0.75"

#: the interpolated-KN probability and its backoff-mass share, spelled
#: ONCE for both engines over the five count columns (c12 bigram count,
#: c1 history count, n1pf = N1+(w1,*) continuation fan-out, n1pb =
#: N1+(*,w2) continuation fan-in, tt = distinct bigram types). Every
#: input is an exact BIGINT; the arithmetic is the identical IEEE chain
#: in both engines (the _ZIPF_STATS shared-spelling pattern). max(c-D, 0)
#: folds to c-D because every scored bigram occurs in the training corpus
#: (same-corpus scoring: c12 >= 1 > D).
_KN_P = (
    f"((CAST(c12 AS DOUBLE) - {_KN_D}) + {_KN_D} * CAST(n1pf AS DOUBLE)"
    " * (CAST(n1pb AS DOUBLE) / CAST(tt AS DOUBLE))) / CAST(c1 AS DOUBLE)"
)
_KN_BACKOFF = (
    f"({_KN_D} * CAST(n1pf AS DOUBLE)"
    " * (CAST(n1pb AS DOUBLE) / CAST(tt AS DOUBLE)) / CAST(c1 AS DOUBLE))"
    f" / ({_KN_P})"
)

_KN_ORACLE = f"""
    WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS w
                FROM documents),
    big AS (SELECT doc_id, source,
              unnest(list_transform(range(1, len(w)),
                     i -> w[i] || ' ' || w[i + 1])) AS gram
            FROM tk),
    c2 AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY 1),
    hs AS (SELECT split_part(gram, ' ', 1) AS h,
                  CAST(SUM(c12) AS BIGINT) AS c1,
                  CAST(COUNT(*) AS BIGINT) AS n1pf
           FROM c2 GROUP BY 1),
    ts AS (SELECT split_part(gram, ' ', 2) AS t,
                  CAST(COUNT(*) AS BIGINT) AS n1pb
           FROM c2 GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tt FROM c2),
    ev AS (SELECT b.doc_id, b.source, c2.c12, hs.c1, hs.n1pf, ts.n1pb, tot.tt
           FROM big b JOIN c2 USING (gram)
           JOIN hs ON split_part(b.gram, ' ', 1) = hs.h
           JOIN ts ON split_part(b.gram, ' ', 2) = ts.t
           CROSS JOIN tot),
    scored AS (SELECT doc_id, source, -ln({_KN_P}) AS nlp,
                      {_KN_BACKOFF} AS bsh
               FROM ev)
    SELECT source,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      round(AVG(nlp), 6) + 0.0 AS avg_neg_logprob,
      round(AVG(bsh), 6) + 0.0 AS backoff_share
    FROM scored GROUP BY source ORDER BY source
    """


@query(
    "text_kneser_ney_bigram",
    oracle=_KN_ORACLE,
    tags=("llm", "text", "lm", "kneser-ney"),
)
def q_text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring — THE production
    n-gram smoothing (Kneser & Ney 1995; the interpolated form and the
    D≈0.75 discount from Chen & Goodman 1998's empirical study): the
    method KenLM implements and therefore what actually runs inside the
    CCNet/LLaMA perplexity filters that [q:text_ccnet_ppl_buckets]
    models. Differs from the add-k twin [q:text_bigram_logprob] in both
    halves of the estimator: the numerator is ABSOLUTE-DISCOUNTED
    (max(c-D,0), mass removed per observed type, not added per possible
    type) and the backoff distribution is the CONTINUATION unigram
    P_cont(w2) = N1+(*,w2)/|bigram types| — "how many contexts does w2
    complete" — rather than raw frequency (the San-Francisco effect:
    'Francisco' is frequent but completes one context, so KN backs off
    to it rarely). Served per source: document/bigram-event counts, mean
    negative log-probability (the perplexity dashboard number), and the
    mean backoff-mass share — the KN-specific health signal (a source
    whose probability mass comes mostly from the backoff term is
    lexically alien to the corpus LM).

    Determinism/parity: all five LM statistics are exact BIGINT counts;
    the probability and backoff share are ONE shared expression chain
    (``_KN_P``/``_KN_BACKOFF``) over those integers, so both engines
    evaluate the identical IEEE sequence; ln sits on the established
    ln-parity precedent ([q:text_pmi_collocations]) and the served
    means are rounded to the 6-dp grid (n·eps argument for summation
    order).

    Scale shape: bigram extraction is a zero-shuffle array transform;
    the four LM tables (bigram, history, continuation, 1-row total) are
    combiner-friendly groupBys over the VOCABULARY-sized gram table
    (hs/ts/tot derive from c2, not from the corpus); the per-gram
    nlp/backoff scores are assembled by joins among those vocab-sized
    tables ONLY; and the corpus event stream is folded to (source,
    gram) COUNTS in ONE persisted map-side-combined exchange — the only
    corpus-sized shuffle; every table after it (c2/hs/ts/tot/scores and
    the rollup) derives from the persisted fold, so every later
    exchange and join carries |sources|·|vocab| rows. The served means
    are the count-weighted vocab-side sums (identical values to the
    oracle's per-event AVG modulo summation order — the 6-dp n·eps
    band). Measured ladder at ~sf1 (BASELINE.md r14): three LM joins on
    the event stream 6.2 s → one stream join 7.0 s → un-persisted fold
    (c2's four readers re-ran the corpus wordcount five times) 11.5 s →
    this persisted fold, see the r14 table. The doc count is a
    scan-side |sources| aggregate. No per-doc state, no windows,
    nothing quadratic.

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    LM surface; this extends the LLM-pipeline text family beyond
    reference parity."""
    d = _t(spark, sf_dir, "documents")
    w = "split(text, ' ')"
    big = d.select(
        "source", F.explode(F.expr(spark_bigram_sql(w))).alias("gram")
    )
    # ONE corpus exchange: the (source, gram) count fold is the only
    # corpus-sized shuffle, persisted so the four LM tables and the
    # scoring join all derive from it without re-scanning (the DSIR
    # one-exchange lesson — the un-persisted spelling re-ran the corpus
    # wordcount FIVE times via c2's four readers: 11.5 s at ~sf1,
    # BASELINE.md r14)
    sg = (
        big.groupBy("source", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    c2 = (
        sg.groupBy("gram")
        .agg(F.sum("c").cast("long").alias("c12"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    hs = c2.groupBy(F.substring_index("gram", " ", 1).alias("h")).agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1pf"),
    )
    ts = c2.groupBy(F.substring_index("gram", " ", -1).alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("n1pb")
    )
    tot = c2.agg(F.count(F.lit(1)).cast("long").alias("tt"))
    # score each DISTINCT gram on the vocabulary-sized table (all four
    # LM joins stay vocab x vocab), so the corpus-sized event stream
    # takes ONE broadcast join instead of three — measured 6.2 s -> see
    # BASELINE.md r14 (the r13b fastText lesson: exchanges and join
    # chains carry |vocab|, never the event stream)
    sc = (
        c2.withColumn("h", F.substring_index("gram", " ", 1))
        .withColumn("t", F.substring_index("gram", " ", -1))
        .join(hs, "h")
        .join(ts, "t")
        .crossJoin(F.broadcast(tot))
        .selectExpr("gram", f"-ln({_KN_P}) AS nlp", f"{_KN_BACKOFF} AS bsh")
    )
    per_src = (
        sg.join(sc, "gram")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            (
                F.round(
                    F.sum(F.col("c") * F.col("nlp")) / F.sum("c"), 6
                )
                + F.lit(0.0)
            ).alias("avg_neg_logprob"),
            (
                F.round(
                    F.sum(F.col("c") * F.col("bsh")) / F.sum("c"), 6
                )
                + F.lit(0.0)
            ).alias("backoff_share"),
        )
    )
    docs = (
        d.where(F.size(F.split("text", " ")) >= 2)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return (
        docs.join(per_src, "source")
        .select("source", "n_docs", "n_bigrams", "avg_neg_logprob",
                "backoff_share")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# round 14: winnowing fingerprints (the MOSS local document fingerprinting)
# ---------------------------------------------------------------------------

#: character k-gram length and winnowing window (guarantee threshold
#: t = _WIN_W + _WIN_K - 1 = 11: any shared substring of >= 11 chars is
#: guaranteed to share a fingerprint — the paper's correctness property).
_WIN_K = 8
_WIN_W = 4
#: position packing base: argmin-with-rightmost-tiebreak is computed as
#: min(h * 2^20 + (2^20-1 - pos)) over each window — pure integer order,
#: no struct/min_by cross-engine surface. Requires pos < 2^20 (docs are
#: bounded well under 1M chars; asserted in tests).
_WIN_PB = 1 << 20
#: served pair list size
_WIN_TOPN = 20
#: hot-fingerprint document-frequency cap — MOSS's published rule
#: (Schleimer et al. §5 / the MOSS service: matches appearing in more
#: than N documents are boilerplate and are ignored). ALSO the 100 TB
#: posture: a fingerprint shared by f docs fans the pair join out f²/2
#: ways, so an uncapped hot posting list (template floods, license
#: headers) is quadratic — the cap bounds every posting list's fan-out
#: at maxdf²/2 (measured: the uncapped spelling GC-thrashed on the
#: replica harness, whose copies multiply every dup family).
_WIN_MAXDF = 64

#: the shared winnowing CTE chain (k-gram hashes -> window argmin ->
#: distinct fingerprints -> cross-doc pair counts + per-doc sizes), used
#: by BOTH the pairs ranking and the clusters DECISION oracle so the two
#: can never fork (the _DSIR_W_CTES precedent). The chain-ending and
#: multiply-referenced CTEs are MATERIALIZED (the k-core inlining
#: lesson, which bites HARD here: inside the clusters' WITH RECURSIVE,
#: an un-materialized chain re-evaluates the whole winnowing scan every
#: recursion step — measured as a 300+ CPU-minute hang at ~sf1).
_WIN_CTES = f"""pos AS (
      SELECT doc_id, unnest(range(1, length(lower(text)) - {_WIN_K} + 2)) AS p,
             lower(text) AS t
      FROM documents WHERE length(text) >= {_WIN_K + _WIN_W - 1}),
    h AS (SELECT doc_id, p,
            ({duck_hex_int(f"md5(substring(t, p, {_WIN_K}))")}) AS hv
          FROM pos),
    keyed AS (SELECT doc_id, p,
                hv * {_WIN_PB} + ({_WIN_PB - 1} - p) AS key,
                unnest(range(0, {_WIN_W})) AS off
              FROM h),
    wins AS (SELECT doc_id, p - off AS ws, key FROM keyed
             WHERE p - off >= 1),
    nw AS (SELECT doc_id, CAST(length(lower(text)) - {_WIN_K + _WIN_W} + 2
                      AS BIGINT) AS last_ws
           FROM documents WHERE length(text) >= {_WIN_K + _WIN_W - 1}),
    sel AS MATERIALIZED (SELECT w.doc_id, MIN(w.key) AS mk
            FROM wins w JOIN nw ON w.doc_id = nw.doc_id
            WHERE w.ws <= nw.last_ws GROUP BY w.doc_id, w.ws),
    fph AS (SELECT DISTINCT doc_id, mk // {_WIN_PB} AS fph FROM sel),
    fdf AS (SELECT fph, CAST(COUNT(*) AS BIGINT) AS df FROM fph GROUP BY 1),
    fpk AS MATERIALIZED (SELECT f.doc_id, f.fph FROM fph f JOIN fdf USING (fph)
            WHERE fdf.df <= {_WIN_MAXDF}),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS BIGINT) AS shared_fps
              FROM fpk a JOIN fpk b
                ON a.fph = b.fph AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    na AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nfp FROM fpk GROUP BY 1),
    pn AS MATERIALIZED (SELECT p.doc_a, p.doc_b, p.shared_fps,
                  x.nfp AS fps_a, y.nfp AS fps_b
           FROM pairs p JOIN na x ON x.doc_id = p.doc_a
           JOIN na y ON y.doc_id = p.doc_b)"""

_WIN_ORACLE = f"""
    WITH {_WIN_CTES}
    SELECT doc_a, doc_b, shared_fps, fps_a, fps_b,
           round(CAST(shared_fps AS DOUBLE)
                 / CAST(LEAST(fps_a, fps_b) AS DOUBLE), 6) + 0.0
             AS containment
    FROM pn
    ORDER BY shared_fps DESC, doc_a, doc_b
    LIMIT {_WIN_TOPN}
    """


@query(
    "dedup_winnowing_pairs",
    oracle=_WIN_ORACLE,
    tags=("llm", "dedup", "fingerprint", "winnowing"),
)
def q_dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprinting — the MOSS algorithm (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003): hash every character ``k``-gram,
    slide a window of ``w`` consecutive hashes, and in each window select
    the MINIMUM hash (rightmost occurrence on ties — the paper's rule);
    the selected (hash, position) set is the document's fingerprint. The
    guarantee property (§3 of the paper): any substring match of length
    >= w + k - 1 shares at least one fingerprint, with density ~2/(w+1) —
    LOCAL selection, unlike [q:text_fingerprint]'s prefix hash (whole-doc
    only) or MinHash's global sketch ([q:dedup_minhash_lsh_pairs] —
    set-similarity, no positional guarantee). Fingerprints appearing in
    more than ``_WIN_MAXDF`` documents are IGNORED — MOSS's own
    boilerplate rule (§5: matches in too many documents are noise), and
    the quadratic-fan-out bound (see the constant's comment; the
    uncapped spelling was measured GC-thrashing on the dup-multiplying
    replica harness and replaced). Served: the top ``_WIN_TOPN``
    cross-document pairs by shared-fingerprint count with per-doc
    (capped-index) fingerprint sizes and containment — the
    plagiarism/boilerplate report MOSS serves.

    Determinism/parity: hashes are the engine's md5-first-8-hex integers;
    argmin-with-rightmost-tiebreak is ONE integer min over the packed key
    h·2^20 + (2^20−1−pos) (no float, no struct ordering, no min_by
    cross-engine surface); position packing needs pos < 2^20 — five
    orders of magnitude above the corpus's document lengths and checked
    by the recomputation test. Ranking carries a total (count, a, b)
    tiebreak.

    Scale shape: the k-gram/window explode is scan-local fan-out (O(chars
    × w) rows, zero shuffle until the per-(doc, window) combiner groupBy,
    which reduces to ~2·chars/(w+1) fingerprints per doc); the pair join
    is a fingerprint-keyed EQUI-join over the winnowed (not raw) stream —
    the same banded posture as the LSH families, never all-pairs; the
    top-N is a TakeOrdered heap. At 100 TB the fingerprint table is
    ~1/(w+1) of the corpus chars and partitions by hash.

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    fingerprint surface; this extends the LLM-pipeline dedup family
    beyond reference parity."""
    pn = _winnowing_pairs_frame(spark, sf_dir)
    return (
        pn.select(
            "doc_a", "doc_b", "shared_fps", "fps_a", "fps_b",
            (
                F.round(
                    F.col("shared_fps").cast("double")
                    / F.least("fps_a", "fps_b").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("containment"),
        )
        .orderBy(F.desc("shared_fps"), "doc_a", "doc_b")
        .limit(_WIN_TOPN)
    )


def _winnowing_pairs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE Spark spelling of the winnowing pair table (doc_a, doc_b,
    shared_fps, fps_a, fps_b) — shared by the pairs ranking and the
    clusters DECISION (mirrors ``_WIN_CTES``)."""
    d = _t(spark, sf_dir, "documents").where(
        F.length("text") >= _WIN_K + _WIN_W - 1
    )
    # last_ws derives from the LOWERED length — k-gram positions iterate
    # over length(t) of the lowercased text and the oracle's nw/pos CTEs
    # both use length(lower(text)); a character whose lowercase mapping
    # changes string length (e.g. U+0130) would otherwise diverge the
    # window bound (r14 ADVICE).
    base = d.select("doc_id", F.lower(F.col("text")).alias("t")).select(
        "doc_id",
        "t",
        (F.length("t") - F.lit(_WIN_K + _WIN_W) + 2).cast("long").alias(
            "last_ws"
        ),
    )
    h = base.select(
        "doc_id",
        "last_ws",
        F.posexplode(
            # the length(t) >= K guard keeps sequence() ascending even if
            # a lowercase mapping SHRANK the string below k (the raw-length
            # row filter no longer guarantees it)
            F.expr(
                f"CASE WHEN length(t) >= {_WIN_K} THEN "
                f"transform(sequence(1, length(t) - {_WIN_K} + 1), "
                f"i -> conv(substring(md5(substring(t, i, {_WIN_K})), 1, 8),"
                " 16, 10)) ELSE array() END"
            )
        ).alias("p0", "hs"),
    ).select(
        "doc_id",
        "last_ws",
        (F.col("p0") + 1).alias("p"),
        (
            F.col("hs").cast("long") * F.lit(_WIN_PB)
            + (F.lit(_WIN_PB - 1) - F.col("p0") - 1)
        ).alias("key"),
    )
    wins = h.select(
        "doc_id",
        "last_ws",
        "key",
        F.explode(F.expr(f"sequence(0, {_WIN_W - 1})")).alias("off"),
        "p",
    ).where(
        (F.col("p") - F.col("off") >= 1)
        & (F.col("p") - F.col("off") <= F.col("last_ws"))
    )
    sel = wins.groupBy(
        "doc_id", (F.col("p") - F.col("off")).alias("ws")
    ).agg(F.min("key").alias("mk"))
    fph = sel.select(
        "doc_id", (F.col("mk") / F.lit(_WIN_PB)).cast("long").alias("fph")
    ).distinct()
    fdf = (
        fph.groupBy("fph")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _WIN_MAXDF)
        .select("fph")
    )
    # the MOSS hot-fingerprint cap, then persist: the capped index feeds
    # THREE readers (both pair sides + the per-doc sizes) — without the
    # persist each reader replays the whole winnow chain (the PMI
    # triangle rule)
    fpk = fph.join(fdf, "fph", "left_semi").persist(StorageLevel.MEMORY_ONLY)
    na = fpk.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("nfp"))
    a = fpk.select(F.col("doc_id").alias("doc_a"), "fph")
    b = fpk.select(F.col("doc_id").alias("doc_b"), "fph")
    pairs = (
        a.join(b, "fph")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
    )
    return (
        pairs.join(na.select(F.col("doc_id").alias("doc_a"),
                             F.col("nfp").alias("fps_a")), "doc_a")
        .join(na.select(F.col("doc_id").alias("doc_b"),
                        F.col("nfp").alias("fps_b")), "doc_b")
        .select("doc_a", "doc_b", "shared_fps", "fps_a", "fps_b")
    )


# ---------------------------------------------------------------------------
# round 14: Heaps-law vocabulary-growth fit (the Zipf diagnostic's twin)
# ---------------------------------------------------------------------------

#: prefix checkpoints for the growth curve. 16 log-log points is plenty
#: for a 2-parameter fit; the checkpoint table is metadata however large
#: the corpus grows.
_HEAPS_CP = 16

#: k_bucket of a doc: the smallest checkpoint k in [1, _HEAPS_CP] with
#: doc_id <= floor(max_id * k / _HEAPS_CP) — exact integer ceil-division,
#: identical in both engines (no doubles near the boundary).
_HEAPS_BUCKET_SPARK = (
    f"greatest(1L, ({_HEAPS_CP} * {{id}} + mx - 1) div mx)"
)
_HEAPS_BUCKET_DUCK = (
    f"GREATEST(1, ({_HEAPS_CP} * {{id}} + mx - 1) // mx)"
)

_HEAPS_ORACLE = f"""
    WITH m AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mx FROM documents),
    db AS (SELECT {_HEAPS_BUCKET_DUCK.format(id='doc_id')} AS k,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
           FROM documents CROSS JOIN m),
    tb AS (SELECT k, CAST(SUM(ntok) AS BIGINT) AS tok FROM db GROUP BY 1),
    fd AS (SELECT term, MIN(doc_id) AS fdoc FROM
             (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents) GROUP BY 1),
    vb AS (SELECT {_HEAPS_BUCKET_DUCK.format(id='fdoc')} AS k,
                  CAST(COUNT(*) AS BIGINT) AS newterms
           FROM fd CROSS JOIN m GROUP BY 1),
    ks AS (SELECT unnest(range(1, {_HEAPS_CP + 1})) AS k),
    cum AS (SELECT ks.k,
              CAST(SUM(COALESCE(tb.tok, 0))
                   OVER (ORDER BY ks.k) AS BIGINT) AS n,
              CAST(SUM(COALESCE(vb.newterms, 0))
                   OVER (ORDER BY ks.k) AS BIGINT) AS v
            FROM ks LEFT JOIN tb ON tb.k = ks.k
            LEFT JOIN vb ON vb.k = ks.k),
    pts AS (SELECT n, v FROM cum WHERE n >= 1 AND v >= 1),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
                 CAST(COUNT(*) AS BIGINT) AS n_points,
                 CAST(MAX(n) AS BIGINT) AS total_tokens,
                 CAST(MAX(v) AS BIGINT) AS total_terms,
                 SUM(ln(CAST(n AS DOUBLE))) AS sx,
                 SUM(ln(CAST(v AS DOUBLE))) AS sy,
                 SUM(ln(CAST(n AS DOUBLE)) * ln(CAST(v AS DOUBLE))) AS sxy,
                 SUM(ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))) AS sxx,
                 SUM(ln(CAST(v AS DOUBLE)) * ln(CAST(v AS DOUBLE))) AS syy
          FROM pts)
    SELECT n_points, total_tokens, total_terms,
           {_ZIPF_STATS['slope']} AS heaps_beta,
           {_ZIPF_STATS['intercept']} AS heaps_ln_k,
           {_ZIPF_STATS['r2']} AS fit_r2
    FROM s
    """


@query(
    "text_heaps_law_fit",
    oracle=_HEAPS_ORACLE,
    tags=("llm", "text", "heaps", "diagnostics"),
)
def q_text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth fit — the second classic lexical law
    beside [q:text_zipf_fit] (Heaps 1978; Herdan 1960): vocabulary size
    grows as V(n) = K·n^beta over corpus prefixes (natural text:
    beta ≈ 0.4-0.6). Served as the least-squares line through
    (ln n, ln V) over ``_HEAPS_CP`` doc-id-ordered prefix checkpoints:
    point count, final token/term totals, beta (slope), ln K
    (intercept), and r². Curation teams read it as the
    vocabulary-SATURATION dashboard: a corpus whose beta collapses
    toward 0 is recycling its vocabulary (template/boilerplate floods),
    one whose beta stays near 1 is unbounded-novelty noise (serial
    numbers, hashes) — the growth-rate complement to the Zipf slope's
    static shape (this synthetic corpus is the EXTREME alarm case: its
    31-word vocabulary is exhausted in the first prefix, so beta reads
    0 and r² is served NULL — the vocabulary-variance denominator is
    analytically zero, caught by the grid-rounded nullif guard).

    Determinism/parity: checkpoint assignment is exact integer
    ceil-division (``(16·id + mx − 1) div mx``, no doubles near any
    boundary); token/new-term partials are exact BIGINTs; ln enters
    only over those integers (the [q:text_pmi_collocations] precedent)
    and the fit reuses the ``_ZIPF_STATS`` shared spelling —
    nullif-guarded denominators included (degenerate corpora serve NULL
    in both engines).

    Scale shape: ONE corpus scan reduces docs to (bucket, ntok) — the
    bucket comes from a 1-row broadcast max — and one wordcount-shaped
    exchange reduces terms to first-occurrence docs (min(doc_id)
    combiner); everything after runs on the 16-row checkpoint table
    (the cumulative window orders 16 rows — metadata, the
    [q:text_zipf_fit] vocabulary-window precedent taken further: the
    window input here is CONSTANT-sized). No corpus-wide window, no
    range join (each doc maps to exactly its first checkpoint; the
    prefix sums fold on the checkpoint table).

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    corpus-statistics surface; this extends the LLM-pipeline text
    family beyond reference parity."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").cast("long").alias("mx"))
    bucket = _HEAPS_BUCKET_SPARK
    db = d.crossJoin(F.broadcast(mx)).selectExpr(
        f"{bucket.format(id='doc_id')} AS k",
        "CAST(size(split(text, ' ')) AS BIGINT) AS ntok",
    )
    tb = db.groupBy("k").agg(F.sum("ntok").cast("long").alias("tok"))
    fd = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("fdoc"))
    )
    vb = (
        fd.crossJoin(F.broadcast(mx))
        .selectExpr(f"{bucket.format(id='fdoc')} AS k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("newterms"))
    )
    ks = spark.range(1, _HEAPS_CP + 1).select(F.col("id").alias("k"))
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        ks.join(tb, "k", "left")
        .join(vb, "k", "left")
        .select(
            "k",
            F.sum(F.coalesce("tok", F.lit(0))).over(w).cast("long").alias("n"),
            F.sum(F.coalesce("newterms", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("v"),
        )
    )
    pts = cum.where((F.col("n") >= 1) & (F.col("v") >= 1))
    lx = F.log(F.col("n").cast("double"))
    ly = F.log(F.col("v").cast("double"))
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.max("n").cast("long").alias("total_tokens"),
        F.max("v").cast("long").alias("total_terms"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
        F.sum(ly * ly).alias("syy"),
    )
    return s.selectExpr(
        "n_points",
        "total_tokens",
        "total_terms",
        f"{_ZIPF_STATS['slope']} AS heaps_beta",
        f"{_ZIPF_STATS['intercept']} AS heaps_ln_k",
        f"{_ZIPF_STATS['r2']} AS fit_r2",
    )


# ---------------------------------------------------------------------------
# round 14: WordPiece tokenizer training (the BERT merge-selection rule)
# ---------------------------------------------------------------------------

_WP_MERGES = 3

#: the WordPiece pair score, spelled ONCE for both engines over the three
#: exact BIGINT counts: pc (weighted pair count), ca/cb (weighted symbol
#: counts of the pair's halves in the CURRENT sequences). The division of
#: exact integers is the identical IEEE double in both engines, so the
#: (score DESC, pair ASC) argmax is cross-engine deterministic.
_WP_SCORE = (
    "CAST(pc AS DOUBLE) / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))"
)


def _wp_argmax(seq: DataFrame) -> DataFrame:
    """WordPiece's pick: the pair maximizing ``_WP_SCORE`` (score DESC,
    pair ASC), with the symbol counts ``ca``/``cb`` of its halves in the
    current sequences."""
    s = (
        seq.select(F.explode(F.split("seq", " ")).alias("sym"), "cnt")
        .groupBy("sym")
        .agg(F.sum("cnt").cast("long").alias("c"))
    )
    return (
        _seq_pairs(seq)
        .join(
            s.select(F.col("sym").alias("la"), F.col("c").alias("ca")),
            F.substring_index("pair", " ", 1) == F.col("la"),
        )
        .join(
            s.select(F.col("sym").alias("lb"), F.col("c").alias("cb")),
            F.substring_index("pair", " ", -1) == F.col("lb"),
        )
        .select("pair", "pc", "ca", "cb")
        .orderBy(F.expr(_WP_SCORE).desc(), F.asc("pair"))
        .limit(1)
    )


def _wp_duck_iter(i: int, prev: str) -> str:
    """One unrolled WordPiece training round in DuckDB SQL: weighted pair
    AND symbol counts over the word-type table, likelihood-ratio argmax,
    greedy rewrite. The rewritten table is MATERIALIZED — it is
    referenced three times by the next round (pairs, symbol counts,
    rewrite), the k-core inlining lesson."""
    return f"""
    p{i} AS (SELECT unnest(list_transform(range(1, len(string_split(seq, ' '))),
                   j -> (string_split(seq, ' '))[j] || ' '
                        || (string_split(seq, ' '))[j + 1])) AS pair, cnt
             FROM {prev}),
    s{i} AS (SELECT sym, CAST(SUM(cnt) AS BIGINT) AS c FROM
               (SELECT unnest(string_split(seq, ' ')) AS sym, cnt
                FROM {prev}) GROUP BY 1),
    g{i} AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pc
             FROM p{i} GROUP BY 1),
    b{i} AS (SELECT pair, pc, a.c AS ca, b.c AS cb
             FROM g{i} JOIN s{i} a ON a.sym = split_part(pair, ' ', 1)
             JOIN s{i} b ON b.sym = split_part(pair, ' ', 2)
             ORDER BY {_WP_SCORE} DESC, pair LIMIT 1),
    r{i} AS MATERIALIZED (SELECT {_bpe_seq_rewrite_sql('seq', 'pair')} AS seq,
                                 cnt
                          FROM {prev} CROSS JOIN b{i})"""


_WP_ORACLE = f"""
    WITH wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM
                  (SELECT unnest(string_split(text, ' ')) AS w
                   FROM documents) GROUP BY 1),
    r0 AS MATERIALIZED (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g'))
                    || ' {_BPE_EOW}' AS seq, cnt FROM wf),
    {_wp_duck_iter(1, 'r0')},
    {_wp_duck_iter(2, 'r1')},
    {_wp_duck_iter(3, 'r2')}
    SELECT * FROM (
      SELECT 1 AS merge_rank, pair, pc AS pair_count, ca AS left_count,
             cb AS right_count, round({_WP_SCORE}, 6) + 0.0 AS score
      FROM b1
      UNION ALL SELECT 2, pair, pc, ca, cb, round({_WP_SCORE}, 6) + 0.0
      FROM b2
      UNION ALL SELECT 3, pair, pc, ca, cb, round({_WP_SCORE}, 6) + 0.0
      FROM b3)
    ORDER BY merge_rank
    """


@query(
    "text_wordpiece_train_merges",
    oracle=_WP_ORACLE,
    tags=("llm", "text", "tokenizer", "wordpiece"),
)
def q_text_wordpiece_train_merges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WordPiece tokenizer training — the BERT family's merge-selection
    rule (Schuster & Nakajima, ICASSP 2012; Wu et al. 2016 §3.1): where
    BPE ([q:text_bpe_train_merges]) merges the most FREQUENT adjacent
    pair, WordPiece merges the pair maximizing the unigram-LM likelihood
    gain — score(a,b) = count(ab) / (count(a)·count(b)) — so a
    moderately frequent pair of RARE symbols beats a frequent pair of
    ubiquitous ones (the published divergence between the two
    tokenizers, and exactly what this corpus exhibits: the learned merge
    tables differ from round 1, asserted in tests). Framing (character
    init + end-of-word symbol, greedy left-to-right rewrite) is shared
    with the BPE trainer so the SCORING RULE is the only degree of
    freedom; the '##' continuation-prefix surface of the BERT vocab
    format is presentation, not algorithm, and is out of scope. Serves
    (merge_rank, pair, pair_count, left_count, right_count, score).

    Determinism/parity: all three counts are exact weighted BIGINTs over
    the word-type table; the score is ONE shared spelling (``_WP_SCORE``)
    whose integer-fed double division is bit-identical cross-engine, so
    the (score DESC, pair ASC) argmax is a total order both engines
    replay; the rewrite is the shared marker-wrap spelling
    (``_bpe_seq_rewrite_sql``). The oracle MATERIALIZES each round's
    rewritten table (three references per round — the k-core CTE-inlining
    lesson).

    Scale shape: the [q:text_bpe_train_merges] posture with one extra
    vocabulary-sized aggregate per round (the symbol-count table): the
    corpus is touched ONCE (the wordcount exchange), every round runs on
    persisted vocabulary-sized tables with a 1-row argmax broadcast into
    the rewrite; the argmax join probes two symbol-count rows per pair —
    vocabulary-keyed equi-joins, AQE-broadcast at any real size.

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    tokenizer surface; this extends the LLM-pipeline tokenizer family
    beyond reference parity."""
    bests, _ = _train_merges(spark, sf_dir, _wp_argmax, _WP_MERGES)
    return _merge_table(
        bests,
        "pair",
        "pc AS pair_count",
        "ca AS left_count",
        "cb AS right_count",
        f"round({_WP_SCORE}, 6) + 0.0 AS score",
    )


#: near-dup DECISION threshold, applied as the exact integer
#: cross-multiplication 5·shared >= 4·max(fps) — SYMMETRIC similarity
#: (both docs' fingerprint sets >= 80% shared), not one-sided
#: containment. Measured reason (BASELINE.md r14): containment edges
#: chain through doc-in-doc hubs — at sf0.1 they weld a 1,512-node
#: sparse component (diameter-bound recursion, quadratic closure);
#: symmetric edges cap the largest component at 4. No float enters the
#: edge decision either way.
_WIN_CL_NUM, _WIN_CL_DEN = 4, 5

_WIN_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_WIN_CTES},
    strong AS MATERIALIZED (SELECT doc_a, doc_b FROM pn
               WHERE {_WIN_CL_DEN} * shared_fps
                     >= {_WIN_CL_NUM} * GREATEST(fps_a, fps_b)),
    sym AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM strong
            UNION ALL SELECT doc_b AS u, doc_a AS v FROM strong),
    reach(node, r) AS (
      SELECT u, u FROM sym
      UNION
      SELECT s.u, reach.r FROM sym s JOIN reach ON reach.node = s.v),
    comp AS (SELECT node, MIN(r) AS c FROM reach GROUP BY node)
    SELECT c AS canonical_doc, CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM comp GROUP BY c ORDER BY cluster_size DESC, canonical_doc
    """


@query(
    "dedup_winnowing_clusters",
    oracle=_WIN_CLUSTERS_ORACLE,
    tags=("llm", "dedup", "fingerprint", "winnowing", "graph", "iterative"),
)
def q_dedup_winnowing_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup DECISION over the winnowing fingerprint pairs — the
    pairs→clusters step of the MOSS-style pipeline, mirroring the ladder
    every other dedup family in the suite climbs
    ([q:dedup_minhash_lsh_pairs]→[q:dedup_minhash_components],
    [q:multimodal_ahash_neardup]→[q:multimodal_ahash_clusters]):
    fingerprint pairs with SYMMETRIC similarity >= 0.8 (both sides:
    5·shared >= 4·max(fps), an exact integer cross-multiplication — no
    float in the edge set; one-sided containment was measured chaining
    doc-in-doc hubs into a 1,512-node sparse component at sf0.1, see
    ``_WIN_CL_NUM``) feed min-label connected components; each cluster
    serves (canonical_doc = min member, cluster_size, n_dropped) — keep
    the canonical, drop the rest.

    Rides the SHARED pair kernel (``_winnowing_pairs_frame`` ↔
    ``_WIN_CTES`` — one spelling per engine, extracted this round so the
    ranking and the DECISION can never fork; the ``_dsir_weight_frame``
    precedent) and the suite's iterative components operator
    (operators/graph.py — O(diameter) join+groupBy rounds, lineage cuts,
    no driver loop). The oracle is the transitive-closure recursive CTE,
    exact for the clique-union graphs near-dup detection produces.

    Scale shape: the pair table is fingerprint-banded (never all-pairs)
    and hot-capped (``_WIN_MAXDF``, inherited from the shared kernel);
    the strong-edge filter is scan-local integer arithmetic; components
    shard on node id. Same 100 TB posture as the MinHash DECISION.

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    fingerprint surface; this completes the winnowing family's
    pairs→DECISION ladder beyond reference parity."""
    from mapreduceindex_demo_spark.operators.graph import connected_components

    pn = _winnowing_pairs_frame(spark, sf_dir)
    strong = pn.where(
        F.lit(_WIN_CL_DEN) * F.col("shared_fps")
        >= F.lit(_WIN_CL_NUM) * F.greatest("fps_a", "fps_b")
    ).select("doc_a", "doc_b")
    comps = connected_components(strong, "doc_a", "doc_b")
    return (
        comps.groupBy(F.col("comp").alias("canonical_doc"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
        )
        .orderBy(F.desc("cluster_size"), "canonical_doc")
    )


# ---------------------------------------------------------------------------
# round 15: Good-Turing frequency smoothing (Turing estimate + unseen mass)
# ---------------------------------------------------------------------------

#: serve the adjusted counts for the low-frequency head, where the Turing
#: estimate matters (high r has sparse N_r and real estimators switch to
#: the Good-Turing regression; the served head is the exact-count region).
_GT_MAX_R = 10

_GT_ORACLE = f"""
    WITH tk AS (SELECT string_split(text, ' ') AS w FROM documents),
    toks AS (SELECT unnest(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))
               AS term
             FROM tk),
    vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM toks GROUP BY 1),
    nr AS (SELECT cnt AS r, CAST(COUNT(*) AS BIGINT) AS n_r
           FROM vocab GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab),
    p0 AS (SELECT round(CAST(COALESCE(
             (SELECT n_r FROM nr WHERE r = 1), 0) AS DOUBLE)
             / CAST(tot.n AS DOUBLE), 6) + 0.0 AS unseen_p0
           FROM tot)
    SELECT a.r, a.n_r,
           round(CAST((a.r + 1) * COALESCE(b.n_r, 0) AS DOUBLE)
                 / CAST(a.n_r AS DOUBLE), 6) + 0.0 AS r_star,
           p0.unseen_p0
    FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
    CROSS JOIN p0
    WHERE a.r <= {_GT_MAX_R}
    ORDER BY a.r
    """


@query(
    "text_good_turing_smoothing",
    oracle=_GT_ORACLE,
    tags=("llm", "text", "lm", "smoothing", "good-turing"),
)
def q_text_good_turing_smoothing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Good-Turing frequency smoothing over the corpus word-TRIGRAM
    vocabulary (the n-gram space sparse enough on this corpus to have a
    real singleton head; unigrams here are a closed ~60-word vocabulary
    with no rare events — the estimator would serve an empty head)
    (Good 1953; the Turing estimator presented in Gale & Sampson 1995's
    "Good-Turing frequency estimation without tears"): from the
    frequency-of-frequencies table N_r, serve for each low count r the
    adjusted count r* = (r+1)·N_[r+1]/N_r — what a count-r word's
    probability mass SHOULD be once unseen events get their share — plus
    the Turing unseen-mass estimate P0 = N_1/N, the number every
    smoothing method (Katz backoff, and the Kneser-Ney discount family
    [q:text_kneser_ney_bigram] approximates with its fixed D) is built
    around. The diagnostic a tokenizer/LM team reads before choosing a
    smoothing regime.

    Determinism/parity: N_r and N are exact integer aggregates; r* is
    ONE multiplication + ONE division of exact BIGINTs rounded to the
    6-dp grid (identical IEEE chain both engines); r with no successor
    frequency serves r* = 0 (COALESCE, not NULL) — the estimator's real
    "mass moves down" semantics.

    Scale shape: one map-side-combined wordcount exchange (the
    [q:mapreduce_wordcount] shape) is the ONLY corpus-sized move; the
    frequency-of-frequencies table is a second combiner groupBy over the
    vocabulary, and everything served is a ~10-row join of that
    metadata-sized table with itself.

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    LM surface; this extends the LLM-pipeline text family beyond
    reference parity."""
    d = _t(spark, sf_dir, "documents")
    # split bound once per row as a lambda variable (r16 — the
    # spark_bigram_sql/_ngrams_expr fix: unbound, the split re-ran per
    # element_at of every trigram)
    vocab = (
        d.select(
            F.explode(
                F.expr(
                    "transform(array(split(text, ' ')), w0 -> "
                    "CASE WHEN size(w0) < 3 THEN array() "
                    "ELSE transform(sequence(1, size(w0) - 2),"
                    " i -> concat_ws(' ', element_at(w0, i),"
                    " element_at(w0, i + 1), element_at(w0, i + 2)))"
                    " END)[0]"
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    nr = (
        vocab.groupBy(F.col("cnt").alias("r"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_r"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    tot = vocab.agg(F.sum("cnt").cast("long").alias("n"))
    n1 = nr.where(F.col("r") == 1).agg(
        F.coalesce(F.sum("n_r"), F.lit(0)).cast("long").alias("n1")
    )
    p0 = n1.crossJoin(F.broadcast(tot)).select(
        (
            F.round(F.col("n1").cast("double") / F.col("n").cast("double"), 6)
            + F.lit(0.0)
        ).alias("unseen_p0")
    )
    b = nr.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        nr.where(F.col("r") <= _GT_MAX_R)
        .join(b, "r", "left")
        .crossJoin(F.broadcast(p0))
        .select(
            "r",
            "n_r",
            (
                F.round(
                    (
                        (F.col("r") + 1) * F.coalesce(F.col("n_r1"), F.lit(0))
                    ).cast("double")
                    / F.col("n_r").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("r_star"),
            "unseen_p0",
        )
        .orderBy("r")
    )


# ---------------------------------------------------------------------------
# round 15: onion-style duplicate-chunk gating
# ---------------------------------------------------------------------------

#: non-overlapping chunk width in tokens (the resolution at which
#: boilerplate repeats are detected) and the published onion drop rule:
#: a document whose duplicate-chunk ratio exceeds 1/2 is discarded.
_ON_CHUNK = 8
_ON_NUM, _ON_DEN = 1, 2

_ON_ORACLE = f"""
    WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS w
                FROM documents),
    ch AS (SELECT doc_id, source,
             md5(array_to_string(w[(k - 1) * {_ON_CHUNK} + 1 :
                                   k * {_ON_CHUNK}], ' ')) AS h
           FROM tk,
             unnest(range(1, len(w) // {_ON_CHUNK} + 1)) AS t(k)),
    df AS (SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ddf
           FROM ch GROUP BY 1),
    d AS (SELECT c.doc_id, c.source,
            CAST(COUNT(*) AS BIGINT) AS n_chunks,
            CAST(SUM(CASE WHEN df.ddf > 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS dup_chunks
          FROM ch c JOIN df USING (h) GROUP BY 1, 2)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(dup_chunks) AS BIGINT) AS dup_chunks,
           CAST(SUM(CASE WHEN {_ON_DEN} * dup_chunks
                         > {_ON_NUM} * n_chunks
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           round(CAST(SUM(dup_chunks) AS DOUBLE)
                 / CAST(SUM(n_chunks) AS DOUBLE), 6) + 0.0 AS dup_ratio
    FROM d GROUP BY source ORDER BY source
    """


@query(
    "dedup_onion_chunk_gate",
    oracle=_ON_ORACLE,
    tags=("llm", "dedup", "onion", "boilerplate"),
)
def q_dedup_onion_chunk_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion-style duplicate-chunk gating (Pomikálek 2011, "Removing
    boilerplate and duplicate content from web corpora" — the
    paragraph-level dedup used by the cc_net/OSCAR lineage): segment
    every document into non-overlapping 8-token chunks, mark a
    chunk DUPLICATE when its exact hash appears in more than one
    document, and gate any document whose duplicate-chunk ratio exceeds
    1/2 — catching template floods and licence-header boilerplate that
    whole-document hashing ([q:dedup_exact]) misses when tails differ
    and fingerprinting ([q:dedup_winnowing_pairs]) prices per-pair.
    Serves the per-source audit: docs, chunks, duplicate chunks, docs
    the onion rule drops, and the duplicate-mass ratio.

    Determinism/parity: chunk hashes are md5-of-token-join strings; the
    drop rule is the exact integer cross-multiplication 2·dup > 1·total
    (no float enters the decision); the only served double is the ratio,
    ONE division of exact sums on the 6-dp grid.

    Scale shape: chunking is scan-local (an in-row slice transform —
    zero shuffle); ONE (chunk-hash) combiner exchange builds the
    document-frequency table (COUNT(DISTINCT doc_id) partial-aggregates
    because a doc's chunks are distinct by position only if text
    repeats — the exchange carries one row per chunk); the verdict join
    is hash-keyed equi; the rollup is |sources| rows. At 100 TB the
    chunk-hash table is ~1/8 of the token count and partitions
    by hash — the same banded posture as every dedup family here.

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    dedup surface; this extends the LLM-pipeline dedup family beyond
    reference parity."""
    d = _t(spark, sf_dir, "documents")
    # Short-doc guard (r15 ADVICE): for <_ON_CHUNK tokens the inner
    # sequence(1, 0) is DESCENDING ([1, 0]) and would emit two phantom
    # chunks, while the oracle's range(1, 1) is empty — guard to an
    # empty array so explode drops the doc on both engines. Persisted
    # MEMORY_ONLY (r15 verdict #1): `ch` feeds BOTH the chunk-frequency
    # groupBy and the verdict join, and an unpersisted frame re-chunks
    # the whole corpus for the second reader — the house multi-reader
    # rule every other r15 plan follows.
    ch = d.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                # split bound once per row (r16 — the spark_bigram_sql
                # fix: unbound, the split re-ran per chunk slice)
                "transform(array(split(text, ' ')), w0 -> "
                f"CASE WHEN size(w0) >= {_ON_CHUNK} THEN"
                f" transform(sequence(1, size(w0) div {_ON_CHUNK}),"
                f" k -> md5(array_join(slice(w0,"
                f" (k - 1) * {_ON_CHUNK} + 1, {_ON_CHUNK}), ' ')))"
                " ELSE array() END)[0]"
            )
        ).alias("h"),
    ).persist(StorageLevel.MEMORY_ONLY)
    df = ch.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("ddf")
    )
    dd = (
        ch.join(df, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("ddf") > 1, 1).otherwise(0))
            .cast("long")
            .alias("dup_chunks"),
        )
    )
    return (
        dd.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("n_chunks"),
            F.sum("dup_chunks").cast("long").alias("dup_chunks"),
            F.sum(
                F.when(
                    F.lit(_ON_DEN) * F.col("dup_chunks")
                    > F.lit(_ON_NUM) * F.col("n_chunks"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_dropped"),
            (
                F.round(
                    F.sum("dup_chunks").cast("double")
                    / F.sum("n_chunks").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# round 15: RAKE keyword extraction
# ---------------------------------------------------------------------------

#: the corpus stopword inventory (the generated text's function words —
#: real pipelines bring a language stoplist; the RAKE machinery is what
#: the operator contributes) and the served keyword count.
_RAKE_STOPS = ("a", "the")
_RAKE_TOPN = 20
_RAKE_STOP_SQL = ",".join(f"'{s}'" for s in _RAKE_STOPS)

#: the per-word RAKE score deg(w)/freq(w), micro-rounded ONCE per
#: VOCABULARY word (the DSIR grid rule) so phrase scores are exact
#: integer sums with a total (score DESC, phrase ASC) order.
_RAKE_WSC = (
    "CAST(round(CAST(deg AS DOUBLE) * 1000000"
    " / CAST(freq AS DOUBLE), 0) AS BIGINT)"
)

_RAKE_ORACLE = f"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents),
    st AS (SELECT doc_id, w,
             [0] || list_filter(range(1, len(w) + 1),
                    i -> w[i] IN ({_RAKE_STOP_SQL}))
                 || [len(w) + 1] AS bs
           FROM tk),
    phr AS (SELECT doc_id,
              unnest(list_filter(
                list_transform(range(1, len(bs)),
                  j -> array_to_string(w[bs[j] + 1 : bs[j + 1] - 1], ' ')),
                p -> p <> '')) AS phrase
            FROM st),
    ph AS (SELECT doc_id, phrase,
             CAST(len(string_split(phrase, ' ')) AS BIGINT) AS n_words
           FROM phr),
    wocc AS (SELECT unnest(string_split(phrase, ' ')) AS tok, n_words
             FROM ph),
    ws AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(n_words) AS BIGINT) AS deg
           FROM wocc GROUP BY 1),
    wm AS (SELECT tok, {_RAKE_WSC} AS wsc FROM ws),
    ph2 AS (SELECT phrase, n_words, CAST(COUNT(*) AS BIGINT) AS occurrences
            FROM ph GROUP BY 1, 2),
    pw AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS tok
           FROM ph2),
    ps AS (SELECT pw.phrase, CAST(SUM(wm.wsc) AS BIGINT) AS score_micro
           FROM pw JOIN wm USING (tok) GROUP BY 1)
    SELECT ph2.phrase, ph2.n_words, ph2.occurrences, ps.score_micro,
           round(CAST(ps.score_micro AS DOUBLE) / 1000000.0, 6) + 0.0
             AS rake_score
    FROM ph2 JOIN ps USING (phrase)
    ORDER BY ps.score_micro DESC, ph2.phrase
    LIMIT {_RAKE_TOPN}
    """


@query(
    "text_rake_keywords",
    oracle=_RAKE_ORACLE,
    tags=("llm", "text", "keywords", "rake"),
)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose, Engel, Cramer & Cowley 2010 —
    Rapid Automatic Keyword Extraction): candidate phrases are the
    maximal stopword-delimited token runs; each word scores
    deg(w)/freq(w) over the phrase co-occurrence graph (deg counts a
    word's total co-occurrence mass — the length of every phrase
    occurrence containing it, self included); a phrase scores the sum of
    its member word scores. Serves the corpus's top-20 keyword phrases
    with their phrase length, occurrence count, and score — the
    unsupervised twin of the TF-IDF/PMI term surfaces
    ([q:text_pmi_collocations]).

    Determinism/parity: deg and freq are exact integer aggregates; each
    word's score is micro-rounded ONCE on the vocabulary table (the
    shared ``_RAKE_WSC`` spelling, the DSIR grid rule), so phrase scores
    are exact BIGINT sums and the (score DESC, phrase ASC) order is
    total — cross-engine bit-stable; the only served double re-scales
    the integer.

    Scale shape: phrase segmentation is scan-LOCAL — the stopword
    boundary positions and the inter-boundary slices are computed
    IN-ROW (zero shuffle; the per-token run-id window spelling paid a
    doc-partitioned exchange for an answer the row already held, and
    its oracle twin measurably overran DuckDB's window buffers at
    ~sf3); everything after is phrase/vocabulary-sized combiner
    aggregates and vocabulary-keyed equi-joins, with a TakeOrdered
    top-k heap. At 100 TB the phrase table is a fraction of the token
    stream and partitions by hash.

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    keyword surface; this extends the LLM-pipeline text family beyond
    reference parity."""
    d = _t(spark, sf_dir, "documents")
    stop_sql = _RAKE_STOP_SQL
    # scan-LOCAL phrase segmentation (zero shuffle): the stopword
    # boundary positions are computed IN-ROW and the phrases sliced out
    # between consecutive boundaries — no per-token window, no corpus
    # exchange (the window spelling measurably blew DuckDB's window
    # buffers past physical memory at ~sf3, and on the Spark side paid
    # a doc-partitioned exchange the row already had the answer to)
    phr = (
        d.select(
            "doc_id",
            F.split("text", " ").alias("w"),
        )
        .select(
            "doc_id",
            "w",
            F.expr(
                "concat(array(0),"
                f" filter(sequence(1, size(w)), i -> element_at(w, i)"
                f" IN ({stop_sql})),"
                " array(size(w) + 1))"
            ).alias("bs"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "filter(transform(sequence(1, size(bs) - 1),"
                    " j -> array_join(slice(w, element_at(bs, j) + 1,"
                    " element_at(bs, j + 1) - element_at(bs, j) - 1), ' ')),"
                    " p -> p != '')"
                )
            ).alias("phrase"),
        )
        .select(
            "doc_id",
            "phrase",
            F.size(F.split("phrase", " ")).cast("long").alias("n_words"),
        )
        .persist(StorageLevel.MEMORY_ONLY)
    )
    ws = (
        phr.select(
            F.explode(F.split("phrase", " ")).alias("tok"), "n_words"
        )
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("n_words").cast("long").alias("deg"),
        )
    )
    wm = ws.selectExpr("tok", f"{_RAKE_WSC} AS wsc")
    ph2 = phr.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).cast("long").alias("occurrences")
    )
    ps = (
        ph2.select("phrase", F.explode(F.split("phrase", " ")).alias("tok"))
        .join(wm, "tok")
        .groupBy("phrase")
        .agg(F.sum("wsc").cast("long").alias("score_micro"))
    )
    return (
        ph2.join(ps, "phrase")
        .select(
            "phrase",
            "n_words",
            "occurrences",
            "score_micro",
            (
                F.round(F.col("score_micro").cast("double") / 1000000.0, 6)
                + F.lit(0.0)
            ).alias("rake_score"),
        )
        .orderBy(F.desc("score_micro"), "phrase")
        .limit(_RAKE_TOPN)
    )


# ---------------------------------------------------------------------------
# round 16: unigram-LM (SentencePiece) tokenizer training
# ---------------------------------------------------------------------------

#: max piece length in chars (SentencePiece's max_sentencepiece_length,
#: scaled to this corpus's <=8-char words), seed/pruned vocabulary sizes
#: (the paper trains a large seed and prunes toward the target — the
#: constants are the engine's bounded twin), and the served head.
_UNI_MAXP = 4
_UNI_SEED_K = 200
_UNI_KEEP = 150
_UNI_TOPN = 30
_UNI_SENT = -(1 << 60)

#: THE micro-log-prob spelling (the Moore-Lewis grid rule): ln of a
#: double ratio, micro-rounded ONCE per vocabulary piece to a BIGINT so
#: every Viterbi path score is an exact integer sum — the argmax both
#: engines replay is a total order, no float ever enters the DP.
_UNI_LP0 = (
    "CAST(round(ln(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))"
    " * 1000000, 0) AS BIGINT)"
)
_UNI_LP1 = (
    "CAST(round(ln((CAST(c AS DOUBLE) + 1.0)"
    " / CAST(tot + nv AS DOUBLE)) * 1000000, 0) AS BIGINT)"
)


def _uni_dp_cte(tag: str, vcte: str) -> str:
    """DuckDB recursive-CTE Viterbi kernel: per word type, advance one
    character per recursion step carrying a rolling window of the last
    ``_UNI_MAXP`` best scores (b0..b3) and their best-path piece lists
    (p0..p3) — best[j] = max over l of best[j-l] + lp(word[j-l+1..j]),
    ties to the SMALLEST l (the CASE evaluates l ascending; the Spark
    fold's (score, -l) struct-max picks the same candidate). Emits
    ``dp{tag}`` plus ``c{tag}``: Viterbi-path piece counts weighted by
    word frequency — the hard-EM E-step counts."""
    cands = []
    for l in range(1, _UNI_MAXP + 1):
        cands.append(
            f"COALESCE(CASE WHEN i >= {l - 1}"
            f" THEN b{l - 1} + v{l}.lp END, {_UNI_SENT})"
        )
    g = "GREATEST(" + ", ".join(cands) + ")"
    whens = []
    for l in range(1, _UNI_MAXP + 1):
        act = f"list_append(p{l - 1}, substr(w, i + 2 - {l}, {l}))"
        if l < _UNI_MAXP:
            whens.append(f"WHEN {cands[l - 1]} = {g} THEN {act}")
        else:
            whens.append(f"ELSE {act}")
    path_case = "CASE " + " ".join(whens) + " END"
    joins = "\n".join(
        f"  LEFT JOIN {vcte} v{l} ON i >= {l - 1}"
        f" AND v{l}.piece = substr(w, i + 2 - {l}, {l})"
        for l in range(1, _UNI_MAXP + 1)
    )
    nulls_b = ", ".join(
        f"CAST(NULL AS BIGINT) AS b{k}" for k in range(1, _UNI_MAXP)
    )
    nulls_p = ", ".join(
        f"CAST(NULL AS VARCHAR[]) AS p{k}" for k in range(1, _UNI_MAXP)
    )
    shift_b = ", ".join(f"b{k}" for k in range(_UNI_MAXP - 1))
    shift_p = ", ".join(f"p{k}" for k in range(_UNI_MAXP - 1))
    return f"""
dp{tag} AS (
  SELECT w, cnt, 0 AS i, CAST(0 AS BIGINT) AS b0, {nulls_b},
         CAST([] AS VARCHAR[]) AS p0, {nulls_p}
  FROM wf
  UNION ALL
  SELECT w, cnt, i + 1, {g} AS b0, {shift_b},
         {path_case} AS p0, {shift_p}
  FROM dp{tag}
{joins}
  WHERE i < length(w)),
c{tag} AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
           FROM (SELECT unnest(p0) AS piece, cnt FROM dp{tag}
                 WHERE i = length(w)) t
           GROUP BY 1)"""


#: the TRAIN chain (seed -> EM round 1 -> prune -> refit -> EM round 2),
#: shared verbatim by the trainer's oracle and the apply/fertility
#: oracle (the `_train_merges` one-spelling rule): each oracle prepends its
#: own `wf` definition and consumes dp2/c2.
_UNI_TRAIN_CTES = f"""
    subs AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
             FROM (SELECT substr(w, i, l) AS piece, cnt
                   FROM wf,
                     unnest(range(1, length(w) + 1)) t(i),
                     unnest(range(1, {_UNI_MAXP} + 1)) u(l)
                   WHERE i + l - 1 <= length(w)) s
             GROUP BY 1),
    top0 AS (SELECT piece, c FROM subs
             ORDER BY c DESC, piece LIMIT {_UNI_SEED_K}),
    v0 AS MATERIALIZED (SELECT DISTINCT piece, c FROM
            (SELECT * FROM top0 UNION ALL
             SELECT piece, c FROM subs WHERE length(piece) = 1) t),
    v0p AS MATERIALIZED (SELECT piece, {_UNI_LP0} AS lp
            FROM v0, (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM v0) s),
    {_uni_dp_cte("1", "v0p")},
    v0c AS MATERIALIZED (SELECT v.piece, COALESCE(c1.c, 0) AS c
            FROM v0p v LEFT JOIN c1 USING (piece)),
    top1 AS (SELECT piece, c FROM v0c
             ORDER BY c DESC, piece LIMIT {_UNI_KEEP}),
    v1 AS MATERIALIZED (SELECT DISTINCT piece, c FROM
            (SELECT * FROM top1 UNION ALL
             SELECT piece, c FROM v0c WHERE length(piece) = 1) t),
    v1p AS MATERIALIZED (SELECT piece, {_UNI_LP1} AS lp
            FROM v1, (SELECT CAST(SUM(c) AS BIGINT) AS tot,
                             CAST(COUNT(*) AS BIGINT) AS nv FROM v1) s),
    {_uni_dp_cte("2", "v1p")}"""

_UNI_ORACLE = f"""
    WITH RECURSIVE
    wf AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents) t
           WHERE length(w) > 0 GROUP BY 1),
    {_UNI_TRAIN_CTES},
    served AS MATERIALIZED (SELECT v.piece, COALESCE(c2.c, 0) AS cnt
               FROM v1p v LEFT JOIN c2 USING (piece))
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS INT)
             AS piece_rank,
           piece, CAST(length(piece) AS INT) AS piece_len, cnt,
           round(CAST(cnt AS DOUBLE) /
                 CAST((SELECT SUM(cnt) FROM served) AS DOUBLE), 6) + 0.0
             AS prob
    FROM served
    ORDER BY cnt DESC, piece
    LIMIT {_UNI_TOPN}
    """


def _uni_sql_quote(p: str) -> str:
    return "'" + p.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _uni_viterbi_paths(wf: DataFrame, vocab: list) -> DataFrame:
    """Spark Viterbi kernel: ONE scan-local in-row fold per word type —
    no shuffle, no window, no UDF. The vocabulary (a model artifact,
    bounded by the ``_UNI_SEED_K``/``_UNI_KEEP`` constants, NOT by data)
    is embedded as a map literal; the first fold runs the integer DP
    over (score, -piece_len) structs, the second walks the backpointers
    to the argmax segmentation. Returns ``wf`` plus its ``ps``
    piece-array column."""
    map_sql = (
        "map("
        + ", ".join(
            f"{_uni_sql_quote(p)}, CAST({lp} AS BIGINT)" for p, lp in vocab
        )
        + ")"
    )

    def cand(l: int) -> str:
        return (
            f"IF(i >= {l} AND element_at(m,"
            f" substring(w, i - {l} + 1, {l})) IS NOT NULL,"
            f" named_struct('s', element_at(acc, i - {l} + 1).s"
            f" + element_at(m, substring(w, i - {l} + 1, {l})), 'nl', -{l}),"
            f" named_struct('s', CAST({_UNI_SENT} AS BIGINT), 'nl', -9))"
        )

    # the accumulator is ONE array of (score, -piece_len) structs, the
    # per-step argmax appended as a single array_max evaluation (a twin
    # best/backpointer-array accumulator evaluates the candidate set
    # twice per step — measured 2x codegen size for zero benefit)
    best = (
        "array_max(array("
        + ", ".join(cand(l) for l in range(1, _UNI_MAXP + 1))
        + "))"
    )
    dp = f"""
    aggregate(
      sequence(1, length(w)),
      array(named_struct('s', CAST(0 AS BIGINT), 'nl', 0)),
      (acc, i) -> concat(acc, array({best})))
    """
    walk = """
    aggregate(
      sequence(1, length(w)),
      named_struct('pos', length(w), 'ps', CAST(array() AS array<string>)),
      (acc, u) -> IF(acc.pos > 0,
        named_struct(
          'pos', acc.pos + element_at(dp, acc.pos + 1).nl,
          'ps', concat(acc.ps, array(substring(w,
                  acc.pos + element_at(dp, acc.pos + 1).nl + 1,
                  -element_at(dp, acc.pos + 1).nl)))),
        acc))
    """
    return (
        wf.withColumn("m", F.expr(map_sql))
        .withColumn("dp", F.expr(dp))
        .withColumn("wk", F.expr(walk))
        .select("w", "cnt", F.col("wk.ps").alias("ps"))
    )


def _uni_viterbi_counts(wf: DataFrame, vocab: list) -> DataFrame:
    """Hard-EM piece counts weighted by word frequency — the recount
    exchange over :func:`_uni_viterbi_paths`' segmentation."""
    return (
        _uni_viterbi_paths(wf, vocab)
        .select(F.explode("ps").alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("c"))
    )


def _uni_train_vocab(spark: SparkSession, wf: DataFrame) -> list:
    """THE one Spark spelling of the unigram-LM training chain (seed ->
    Viterbi hard-EM round -> prune + add-one refit), shared by the
    trainer query and the apply/fertility query so the learned model
    can never fork between them (the ``_train_merges`` rule). Returns the
    final vocabulary as a bounded (piece, micro-ln) list — the model
    artifact (<= ``_UNI_KEEP`` + alphabet rows); its two collects are
    bounded METADATA, never data-sized."""
    subs = (
        wf.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), i ->"
                    f" transform(sequence(1, least({_UNI_MAXP},"
                    " length(w) - i + 1)),"
                    " l -> substring(w, i, l))))"
                )
            ).alias("piece"),
            "cnt",
        )
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("c"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    top0 = subs.orderBy(F.desc("c"), F.asc("piece")).limit(_UNI_SEED_K)
    v0 = (
        top0.unionByName(subs.where(F.length("piece") == 1))
        .dropDuplicates(["piece"])
    )
    tot0 = v0.agg(F.sum("c").cast("long").alias("tot"))
    # bounded-metadata collect #1: the seed vocabulary with its
    # micro-ln scores (<= _UNI_SEED_K + alphabet rows — a constant)
    vocab0 = [
        (r["piece"], r["lp"])
        for r in v0.crossJoin(F.broadcast(tot0))
        .selectExpr("piece", f"{_UNI_LP0} AS lp")
        .collect()
    ]
    c1 = _uni_viterbi_counts(wf, vocab0)
    v0c = (
        spark.createDataFrame([(p,) for p, _ in vocab0], "piece string")
        .join(c1, "piece", "left")
        .select("piece", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    top1 = v0c.orderBy(F.desc("c"), F.asc("piece")).limit(_UNI_KEEP)
    v1 = (
        top1.unionByName(v0c.where(F.length("piece") == 1))
        .dropDuplicates(["piece"])
    )
    stat1 = v1.agg(
        F.sum("c").cast("long").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("nv"),
    )
    # bounded-metadata collect #2: the pruned vocabulary (<= _UNI_KEEP
    # + alphabet rows) with its add-one micro-ln scores
    return [
        (r["piece"], r["lp"])
        for r in v1.crossJoin(F.broadcast(stat1))
        .selectExpr("piece", f"{_UNI_LP1} AS lp")
        .collect()
    ]


@query(
    "text_unigram_lm_tokenizer",
    oracle=_UNI_ORACLE,
    tags=("llm", "text", "tokenizer", "unigram", "sentencepiece"),
)
def q_text_unigram_lm_tokenizer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM (SentencePiece) tokenizer training — Kudo 2018
    ("Subword Regularization", §3; the third major subword algorithm
    beside BPE [q:text_bpe_train_merges] and WordPiece
    [q:text_wordpiece_train_merges], and the one the T5/LLaMA-class
    pipelines actually train): seed a substring vocabulary, fit piece
    probabilities by EM where the E-step segments every word under the
    current model, prune the vocabulary toward the target size (single
    characters are never pruned — the paper's own rule, so every word
    stays segmentable), refit, and serve the final piece table. The
    E-step here is the VITERBI hard-EM variant (the paper's §3.2
    one-best decoding applied as the E-step): deterministic, and exact
    under the integer score grid below, where posterior-expectation EM
    would put engine-specific float summation inside the fixpoint.

    Concretely: (1) seed = top-``_UNI_SEED_K`` substrings of length <=
    ``_UNI_MAXP`` of the word-TYPE table, weighted by word frequency,
    UNION all single characters; p0(piece) ~ substring counts; (2)
    Viterbi-segment every word type under micro-ln(p0) integer scores
    (ties -> fewest chars... smallest piece-length candidate), recount
    pieces along the argmax paths weighted by word frequency; (3) prune
    to the top-``_UNI_KEEP`` by recount UNION single characters, refit
    with add-one smoothing (keeps every retained piece reachable — the
    hard-EM twin of the paper's EM mass); (4) re-segment and serve the
    top-``_UNI_TOPN`` pieces: (piece_rank, piece, piece_len, cnt, prob).

    Determinism/parity: piece log-probs are micro-rounded ONCE per
    vocabulary entry (the Moore-Lewis grid rule, ``_UNI_LP0``/
    ``_UNI_LP1`` — the identical spelling on both engines), so every
    path score is an exact BIGINT sum and the per-position argmax
    (score DESC, piece-length ASC — a total order) is replayed exactly
    by both engines; every top-K cut has the (count DESC, piece ASC)
    total tiebreak; the only served double is prob, ONE division on the
    6-dp grid.

    Scale shape: the corpus is touched ONCE (the word-type wordcount
    exchange, persisted — the Kneser-Ney posture); everything after
    runs on the word-TYPE table: substring seeding is an in-row
    flatten/transform (zero shuffle), each EM round is ONE scan-local
    in-row integer DP fold (no shuffle, no window, no UDF) plus a
    vocabulary-sized recount exchange. The two vocabulary collects are
    bounded METADATA (<= ``_UNI_SEED_K`` + alphabet rows, a constant --
    the model artifact itself, same class as the BPE per-round argmax);
    at 100 TB the word-type table is the only frame that grows, and it
    grows sub-linearly (Heaps' law, measured by
    [q:text_heaps_law_fit]).

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    tokenizer surface; this completes the BPE/WordPiece/unigram trio
    beyond reference parity."""
    d = _t(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    vocab1 = _uni_train_vocab(spark, wf)
    c2 = _uni_viterbi_counts(wf, vocab1)
    served = (
        spark.createDataFrame([(p,) for p, _ in vocab1], "piece string")
        .join(c2, "piece", "left")
        .select(
            "piece", F.coalesce("c", F.lit(0)).cast("long").alias("cnt")
        )
    )
    tot2 = served.agg(F.sum("cnt").cast("long").alias("tot"))
    from pyspark.sql.window import Window

    w30 = Window.orderBy(F.desc("cnt"), F.asc("piece"))
    return (
        served.crossJoin(F.broadcast(tot2))
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(_UNI_TOPN)
        .select(
            F.row_number().over(w30).cast("int").alias("piece_rank"),
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            "cnt",
            (
                F.round(
                    F.col("cnt").cast("double") / F.col("tot").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("prob"),
        )
        .orderBy("piece_rank")
    )


# ---------------------------------------------------------------------------
# round 16: ExactSubstr duplicate-substring removal mask
# ---------------------------------------------------------------------------

#: repeat threshold in tokens (the paper's 50-token rule scaled to this
#: corpus's 10-600-token documents, the onion/span constant class)
_ES_L = 8

_ES_ORACLE = f"""
    WITH tk AS MATERIALIZED (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    g AS MATERIALIZED (
      SELECT doc_id, source, CAST(k AS BIGINT) AS pos,
             md5(array_to_string(w[k : k + {_ES_L - 1}], ' ')) AS h
      FROM tk, unnest(CASE WHEN len(w) >= {_ES_L}
                           THEN range(1, len(w) - {_ES_L} + 2)
                           ELSE [] END) t(k)),
    dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
    dpos AS (SELECT doc_id, source, pos FROM g
             WHERE h IN (SELECT h FROM dup)),
    brk AS (SELECT doc_id, source, pos,
              CASE WHEN pos - LAG(pos) OVER
                     (PARTITION BY doc_id ORDER BY pos) <= {_ES_L}
                   THEN 0 ELSE 1 END AS b
            FROM dpos),
    runs AS (SELECT doc_id, source, pos,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS run
             FROM brk),
    spans AS (SELECT doc_id, source, run,
                CAST(MAX(pos) - MIN(pos) + {_ES_L} AS BIGINT) AS removed
              FROM runs GROUP BY 1, 2, 3),
    dt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(w)) AS BIGINT) AS total_tokens
           FROM tk GROUP BY 1),
    sa AS (SELECT source,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_affected,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(removed) AS BIGINT) AS removed_tokens
           FROM spans GROUP BY 1)
    SELECT dt.source, n_docs, total_tokens,
           COALESCE(docs_affected, 0) AS docs_affected,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(removed_tokens, 0) AS removed_tokens,
           round(CAST(COALESCE(removed_tokens, 0) AS DOUBLE)
                 / CAST(total_tokens AS DOUBLE), 6) + 0.0 AS removed_ratio
    FROM dt LEFT JOIN sa USING (source)
    ORDER BY dt.source
    """


@query(
    "dedup_exactsubstr_spans",
    oracle=_ES_ORACLE,
    tags=("llm", "dedup", "exactsubstr", "substring"),
)
def q_dedup_exactsubstr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr duplicate-substring removal — Lee et al., ACL 2022
    ("Deduplicating Training Data Makes Language Models Better", §4.1):
    remove every token that lies inside a substring of >= ``_ES_L``
    tokens occurring MORE THAN ONCE in the whole corpus (including twice
    within one document — the rule [q:dedup_duplicated_spans]'s
    distinct-doc-frequency report deliberately does not apply). Serves
    the per-source removal audit: documents, tokens, documents touched,
    MAXIMAL removed spans, removed token mass, and the removed ratio.

    The paper builds a single-node global suffix array to find maximal
    repeats; that structure has no distributed twin. This plan uses the
    L-GRAM COVER identity instead, which yields the IDENTICAL removal
    mask at threshold L with nothing but equi-joins: a token lies inside
    a >=L-token repeat iff it lies inside some duplicated L-gram
    ((<=) a duplicated L-gram IS a >=L repeat containing the token;
    (=>) any occurrence of a >=L repeat S contains, around each of its
    tokens, a length-L window fully inside S, and that window recurs
    wherever S does). Maximal removed spans are then interval-merged
    runs of duplicated gram starts (gap <= L — overlapping or adjacent
    coverage fuses), so n_spans/removed_tokens count each maximal region
    exactly once, never double-counting overlap.

    Determinism/parity: grams are md5-of-token-join strings; frequency,
    run breaks (an integer gap comparison), and span extents are exact
    BIGINTs; the only served double is removed_ratio, ONE division on
    the 6-dp grid.

    Scale shape: gram fan-out is scan-local in-row slicing (the onion
    posture), persisted ONCE for its three readers (frequency exchange,
    mask semi-join, per-doc token rollup — the house multi-reader rule);
    the frequency table is ONE (hash) combiner exchange; the mask join
    is hash-keyed equi (never pairwise — the suffix-sort work the paper
    centralizes becomes the shuffle's hash partitioning); the interval
    merge is ONE doc-keyed window whose partitions are bounded by
    document length. At 100 TB every moving part shards on gram hash or
    doc_id; 32-byte digests cross the wire, never span text.

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    dedup surface; this completes the dedup ladder's substring rung
    beside onion gating and winnowing fingerprints."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    g = d.select(
        "doc_id",
        "source",
        F.size(tk).cast("long").alias("nt"),
        F.posexplode_outer(
            F.when(
                F.size(tk) >= _ES_L,
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - (_ES_L - 1)),
                    lambda k: F.md5(F.concat_ws(" ", F.slice(tk, k, _ES_L))),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ),
    ).select(
        "doc_id", "source", "nt", (F.col("pos") + 1).alias("pos"), "col"
    ).withColumnRenamed("col", "h").persist(StorageLevel.MEMORY_ONLY)

    dup = (
        g.where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= 2)
        .select("h")
    )
    dpos = (
        g.where(F.col("h").isNotNull())
        .join(dup, "h", "left_semi")
        .select("doc_id", "source", "pos")
    )
    wo = Window.partitionBy("doc_id").orderBy("pos")
    runs = dpos.select(
        "doc_id",
        "source",
        "pos",
        F.sum(
            F.when(F.col("pos") - F.lag("pos").over(wo) <= _ES_L, 0).otherwise(1)
        )
        .over(wo)
        .alias("run"),
    )
    spans = runs.groupBy("doc_id", "source", "run").agg(
        (F.max("pos") - F.min("pos") + _ES_L).cast("long").alias("removed")
    )
    dt = (
        g.groupBy("doc_id", "source")
        .agg(F.max("nt").alias("nt"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("total_tokens"),
        )
    )
    sa = spans.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("docs_affected"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("removed").cast("long").alias("removed_tokens"),
    )
    return (
        dt.join(sa, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.coalesce("docs_affected", F.lit(0)).cast("long").alias("docs_affected"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("removed_tokens", F.lit(0))
            .cast("long")
            .alias("removed_tokens"),
            (
                F.round(
                    F.coalesce("removed_tokens", F.lit(0)).cast("double")
                    / F.col("total_tokens").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("removed_ratio"),
        )
        .orderBy("source")
    )


_UNI_APPLY_ORACLE = f"""
    WITH RECURSIVE
    wfs AS MATERIALIZED (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents) t
      WHERE length(w) > 0 GROUP BY 1, 2),
    wf AS MATERIALIZED (
      SELECT w, CAST(SUM(cnt) AS BIGINT) AS cnt FROM wfs GROUP BY 1),
    {_UNI_TRAIN_CTES},
    np AS MATERIALIZED (SELECT w, CAST(len(p0) AS BIGINT) AS np
          FROM dp2 WHERE i = length(w))
    SELECT s.source,
           CAST(SUM(s.cnt) AS BIGINT) AS n_tokens,
           CAST(SUM(s.cnt * length(s.w)) AS BIGINT) AS n_chars,
           CAST(SUM(s.cnt * np.np) AS BIGINT) AS n_pieces,
           round(CAST(SUM(s.cnt * np.np) AS DOUBLE)
                 / CAST(SUM(s.cnt) AS DOUBLE), 6) + 0.0 AS fertility,
           round(CAST(SUM(s.cnt * length(s.w)) AS DOUBLE)
                 / CAST(SUM(s.cnt * np.np) AS DOUBLE), 6) + 0.0
             AS chars_per_piece
    FROM wfs s JOIN np USING (w)
    GROUP BY 1
    ORDER BY 1
    """


@query(
    "text_unigram_apply_fertility",
    oracle=_UNI_APPLY_ORACLE,
    tags=("llm", "text", "tokenizer", "unigram", "sentencepiece"),
)
def q_text_unigram_apply_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPLY the trained unigram-LM tokenizer — the deploy half of the
    [q:text_unigram_lm_tokenizer] lifecycle, mirroring the BPE family's
    train→apply ladder ([q:text_bpe_train_merges] →
    [q:text_bpe_apply_merges]): re-derive the final vocabulary through
    the SHARED training chain (``_uni_train_vocab`` — one spelling, the
    ``_train_merges`` rule), Viterbi-segment every word type under it, and
    serve the per-source tokenizer-quality scorecard real pipelines gate
    on: token/char/piece volumes, FERTILITY (pieces per word — the
    standard cross-tokenizer comparison metric, e.g. Rust et al.
    ACL'21) and chars-per-piece (compression).

    Determinism/parity: the segmentation is the trainer's integer-grid
    Viterbi (exact BIGINT path scores, total-order argmax); per-source
    sums are exact BIGINT dot products of word counts x path lengths;
    the two served doubles are single divisions on the 6-dp grid.

    Scale shape: ONE corpus exchange (the per-(source, word) count,
    persisted); the global word-type table derives from it by a
    word-TYPE-sized rollup, training rides the shared chain
    (vocabulary-sized, two bounded-metadata collects), and the apply is
    a word-type equi-join of path lengths back onto the per-source
    counts — the corpus text itself is never re-read or re-segmented
    per document (segment TYPES once, weight by frequency: the 100 TB
    posture a per-document tokenizer pass would violate).

    Reference anchor: the reference engine (indexjs.go:73-191) has no
    tokenizer surface; this completes the unigram train→apply pair
    beyond reference parity."""
    d = _t(spark, sf_dir, "documents")
    wfs = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    wf = (
        wfs.groupBy("w")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    vocab1 = _uni_train_vocab(spark, wf)
    np_df = _uni_viterbi_paths(wf, vocab1).select(
        "w", F.size("ps").cast("long").alias("np")
    )
    return (
        wfs.join(np_df, "w")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.length("w")).cast("long").alias("n_chars"),
            F.sum(F.col("cnt") * F.col("np")).cast("long").alias("n_pieces"),
            (
                F.round(
                    F.sum(F.col("cnt") * F.col("np")).cast("double")
                    / F.sum("cnt").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("fertility"),
            (
                F.round(
                    F.sum(F.col("cnt") * F.length("w")).cast("double")
                    / F.sum(F.col("cnt") * F.col("np")).cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("chars_per_piece"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# round 16: MATTR lexical diversity (moving-average type-token ratio)
# ---------------------------------------------------------------------------

_MATTR_W = 25  # the moving window (Covington-McFall use 10-100; 25 fits
#: the corpus's 10..~500-token documents so both branches are exercised)

_MATTR_DOC_SQL = {
    # the per-doc MATTR in each dialect, micro-rounded ONCE (the shared
    # integer-grid discipline): eff_w = min(W, n) unifies the paper's
    # short-document rule (n < W => plain TTR over the whole doc) with
    # the moving average as a single formula.
    "spark": f"""
      cast(round(1000000.0 * aggregate(
          sequence(1, size(tk) - least({_MATTR_W}, size(tk)) + 1), 0L,
          (acc, i) -> acc + size(array_distinct(
              slice(tk, i, least({_MATTR_W}, size(tk)))))) /
        (cast(least({_MATTR_W}, size(tk)) as double)
         * (size(tk) - least({_MATTR_W}, size(tk)) + 1)), 0) as bigint)
    """,
    "duck": f"""
      CAST(round(1000000.0 * list_reduce(list_transform(
          range(1, len(tk) - least({_MATTR_W}, len(tk)) + 2),
          i -> len(list_distinct(list_slice(tk, i,
                   i + least({_MATTR_W}, len(tk)) - 1)))),
          (x, y) -> x + y) /
        (CAST(least({_MATTR_W}, len(tk)) AS DOUBLE)
         * (len(tk) - least({_MATTR_W}, len(tk)) + 1)), 0) AS BIGINT)
    """,
}


@query(
    "text_mattr_diversity",
    oracle=f"""
    WITH t AS (SELECT source, string_split(text, ' ') AS tk FROM documents),
    m AS (SELECT source, {_MATTR_DOC_SQL["duck"]} AS micro FROM t)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(micro) AS DOUBLE)
                 / (COUNT(*) * 1000000.0), 6) + 0.0 AS mean_mattr,
           round(MIN(micro) / 1000000.0, 6) + 0.0 AS min_mattr,
           round(MAX(micro) / 1000000.0, 6) + 0.0 AS max_mattr
    FROM m GROUP BY source ORDER BY source
    """,
    tags=("llm", "text", "quality", "diversity"),
)
def q_text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR — moving-average type-token ratio (Covington & McFall,
    Journal of Quantitative Linguistics 2010): lexical diversity scored
    as the mean TTR over every {_MATTR_W}-token sliding window, the
    length-invariant repair of raw TTR (which decays mechanically with
    document length and so cannot compare documents of different sizes
    — the reason corpus-quality pipelines report MATTR/MTLD instead).
    Low MATTR flags template/boilerplate floods and repetitive
    generation; the per-source scorecard row is the feed-health number
    beside the entropy gate ([q:text_char_entropy_gate]) and the
    repetition family ([q:text_gopher_gate]). Documents shorter than
    the window take their plain TTR (the paper's rule), unified here as
    eff_w = min(W, n) so both branches are one formula.

    Determinism/parity: window distinct-counts are exact integers; the
    per-doc score is ONE integer-fed division micro-rounded to a BIGINT
    via the same spelling in both dialects (the r15 Moore-Lewis grid);
    served mean/min/max derive from exact integer sums and order-free
    extremes, each one 6-dp division.

    Scale shape: entirely SCAN-LOCAL per document (the O(n·W) window
    fold runs in-row — no explode, no shuffle, no window function);
    the only exchange is the |sources|-row map-side-combined rollup.
    The 100 TB cost is the corpus scan itself.

    Reference anchor: beyond reference parity; completes the
    text-quality family's diversity axis."""
    t = _t(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("tk")
    )
    m = t.select("source", F.expr(_MATTR_DOC_SQL["spark"]).alias("micro"))
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.round(
                    F.sum("micro").cast("double")
                    / (F.count(F.lit(1)) * F.lit(1000000.0)),
                    6,
                )
                + F.lit(0.0)
            ).alias("mean_mattr"),
            (F.round(F.min("micro") / F.lit(1000000.0), 6) + F.lit(0.0)).alias(
                "min_mattr"
            ),
            (F.round(F.max("micro") / F.lit(1000000.0), 6) + F.lit(0.0)).alias(
                "max_mattr"
            ),
        )
        .orderBy("source")
    )
