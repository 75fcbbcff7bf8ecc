"""bench.py times every query cold: each call, untimed or timed, starts
with no persisted RDD and no cached table, including after a query that
leaves an RDD persisted (``mapindex_collated_scan``)."""

from __future__ import annotations

import dataclasses

import bench
from mapreduceindex_demo_spark.plans import QUERIES
from tests.conftest import SMOKE_SF_DIR

NAMES = ("pricing_summary", "mapindex_collated_scan")


def test_every_call_starts_cold(spark, monkeypatch):
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    seen = []

    def recording(name, fn):
        def call(s, sf_dir):
            seen.append((name, jsc.getPersistentRDDs().size(), cache.isEmpty()))
            return fn(s, sf_dir)

        return call

    for n in NAMES:
        q = QUERIES[n]
        monkeypatch.setitem(QUERIES, n, dataclasses.replace(q, fn=recording(n, q.fn)))
    # the measured set stands in for the frozen legacy one
    monkeypatch.setattr(bench, "_LEGACY_15", frozenset(NAMES[:1]))
    # what an earlier caller left behind: a cached table, a persisted RDD
    spark.range(10).cache().count()
    spark.sparkContext.parallelize(range(3)).persist().count()

    out = bench._measure(spark, {n: QUERIES[n] for n in NAMES}, SMOKE_SF_DIR, 0.001)

    assert [(rdds, empty) for _, rdds, empty in seen] == [(0, True)] * len(seen)
    # one untimed pass, then three timed calls per query
    assert [n for n, _, _ in seen] == [*NAMES] + [n for n in NAMES for _ in range(3)]
    assert set(out["queries"]) == set(out["jobs"]) == set(NAMES)
    assert out["value"] == round(sum(out["queries"].values()), 4)
    assert out["legacy_total"] == out["queries"][NAMES[0]]
    assert all(j > 0 for j in out["jobs"].values())
