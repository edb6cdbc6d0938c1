"""Connected components (functions/graph.py): correctness vs a
reference union-find, convergence on adversarial shapes, and the
dedup_clusters query contract."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from clickstreamtoclickhouse_spark.functions import graph
from tests.conftest import SF_DIR


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical root = min node id in the component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for root, members in comp.items() for n in members}


def _cc_dict(spark, edges, max_iter=25):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    out = graph.connected_components(df, max_iter=max_iter)
    return {r["node"]: r["component"] for r in out.collect()}


def test_cc_matches_union_find_random_graph(spark):
    rng = random.Random(7)
    nodes = list(range(200))
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find(set([n for e in edges for n in e]), edges)
    got = _cc_dict(spark, edges)
    assert got == expected


def test_cc_long_chain_converges_in_log_rounds(spark):
    # a 64-node path: naive label propagation needs 64 rounds; the
    # star alternation must finish well within max_iter=10 (~log2 n)
    edges = [(i, i + 1) for i in range(63)]
    got = _cc_dict(spark, edges, max_iter=10)
    assert set(got.values()) == {0}
    assert len(got) == 64


def test_cc_multiple_components_and_orientation(spark):
    # mixed edge orientations and duplicate/self edges must not matter
    edges = [(5, 1), (1, 5), (2, 2), (7, 8), (9, 8), (3, 4), (4, 6)]
    got = _cc_dict(spark, edges)
    assert got == {1: 1, 5: 1, 7: 7, 8: 7, 9: 7, 3: 3, 4: 3, 6: 3}


def test_cluster_assignments_keeps_singletons(spark):
    items = spark.createDataFrame([(i,) for i in range(6)], "doc_id: long")
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "doc_a: long, doc_b: long")
    out = graph.cluster_assignments(
        items, pairs, id_col="doc_id", pair_a="doc_a", pair_b="doc_b"
    )
    rows = {r["doc_id"]: (r["component"], r["cluster_size"]) for r in out.collect()}
    assert rows == {
        0: (0, 3),
        1: (0, 3),
        2: (0, 3),
        3: (3, 1),
        4: (4, 1),
        5: (5, 1),
    }


def test_dedup_clusters_matches_pair_graph(spark):
    from clickstreamtoclickhouse_spark.functions import dedup_text
    from clickstreamtoclickhouse_spark.plans.ext import _chain_corpus, dedup_clusters
    from clickstreamtoclickhouse_spark.plans.registry import load

    out = dedup_clusters(spark, SF_DIR).cache()
    # every document appears exactly once
    n_docs = out.count()
    assert n_docs == 1500 == out.select("doc_id").distinct().count()
    # the clustering must be EXACTLY the connected components of the
    # pair graph: compare against a driver-side union-find over the
    # same pairs (small at test SF)
    corpus = _chain_corpus(load(spark, SF_DIR, "documents"))
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_text.jaccard_pairs(corpus, threshold=0.5, n=3).collect()
    ]
    nodes = [r["doc_id"] for r in out.select("doc_id").collect()]
    expected = _union_find(set(nodes), pairs)
    got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert got == expected
    # most chains {d, d+1M, d+2M} merge into one cluster (the odd
    # ultra-short doc may legitimately fail to shingle)
    trip = (
        out.withColumn("base", F.col("doc_id") % 1_000_000)
        .groupBy("base")
        .agg(F.countDistinct("component").alias("n_comp"))
    )
    assert trip.filter(F.col("n_comp") > 1).count() <= 5
    out.unpersist()


def test_label_propagation_separates_planted_cliques(spark):
    # two 5-cliques joined by ONE bridge edge: LPA must give each
    # clique a single internal label and keep the two labels distinct
    # (the bridge endpoints may wobble — interior nodes are asserted)
    c1 = [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]
    c2 = [(a, b) for a in range(11, 16) for b in range(11, 16) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(5, 11)], "u long, v long")
    labels = {
        r.node: r.label
        for r in graph.label_propagation(edges, rounds=4).collect()
    }
    assert len(labels) == 10
    assert len({labels[n] for n in (1, 2, 3, 4)}) == 1
    assert len({labels[n] for n in (12, 13, 14, 15)}) == 1
    assert labels[1] != labels[12]


def test_label_propagation_deterministic(spark):
    random.seed(7)
    edges = spark.createDataFrame(
        [(random.randint(0, 30), random.randint(0, 30)) for _ in range(60)],
        "u long, v long",
    ).filter("u != v")
    a = sorted((r.node, r.label) for r in graph.label_propagation(edges).collect())
    b = sorted((r.node, r.label) for r in graph.label_propagation(edges).collect())
    assert a == b


def test_part_entity_resolution_links_planted_dirty_records(spark):
    from clickstreamtoclickhouse_spark import plans
    from clickstreamtoclickhouse_spark.plans.tpch import _ER_OFFSET

    rows = plans.QUERIES["part_entity_resolution"](spark, SF_DIR).collect()
    ent = {r.rec_id: r.entity_id for r in rows}
    origs = [r for r in ent if r < _ER_OFFSET]
    assert origs
    # every planted dirty record resolves into its original's entity
    linked = sum(1 for o in origs if ent.get(o + _ER_OFFSET) == ent[o])
    assert linked == len(origs), f"{len(origs) - linked} planted pairs missed"
    # and resolution is not degenerate (one giant entity)
    assert len(set(ent.values())) > len(origs) * 0.5
    for r in rows:
        assert r.entity_size >= 2 or r.entity_id == r.rec_id


def test_copurchase_edges_session_cache(spark):
    from clickstreamtoclickhouse_spark.plans.tpch import (
        _COPURCHASE_CACHE,
        _copurchase_edges,
    )

    _COPURCHASE_CACHE.clear()
    a = _copurchase_edges(spark, SF_DIR)
    b = _copurchase_edges(spark, SF_DIR)
    # the trio must share ONE checkpointed build per (app, sf_dir)
    assert a is b
    other = _copurchase_edges(spark, "/root/testdata/sf0.01")
    assert other is not a
    key_apps = {k[0] for k in _COPURCHASE_CACHE}
    assert key_apps == {spark.sparkContext.applicationId}
    # stale entries from stopped applications are evicted on call —
    # a session-restarting process must not accumulate checkpoints
    _COPURCHASE_CACHE[("app-from-a-stopped-session", SF_DIR)] = a
    _copurchase_edges(spark, SF_DIR)
    assert ("app-from-a-stopped-session", SF_DIR) not in _COPURCHASE_CACHE
    assert {k[0] for k in _COPURCHASE_CACHE} == {
        spark.sparkContext.applicationId
    }
    # and the cached edge set is the distinct co-order pair relation
    assert a.columns == ["u", "v"]
    assert a.filter("u >= v").count() == 0
    assert a.count() == a.distinct().count()


def test_cc_releases_checkpoints_after_coalesce(spark, monkeypatch):
    # without AQE partition coalescing every round's checkpoint keeps
    # the session's shuffle width, so each round takes the coalesce
    # branch; the checkpoints under those coalesces must still be freed
    coalesced = []
    df_cls = type(spark.range(1))
    real_coalesce = df_cls.coalesce

    def spy(self, n):
        coalesced.append(n)
        return real_coalesce(self, n)

    monkeypatch.setattr(df_cls, "coalesce", spy)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = _cc_dict(spark, [(i, i + 1) for i in range(63)], max_iter=10)
    finally:
        spark.conf.set(key, old)
    assert set(got.values()) == {0}
    assert coalesced
    # only the last round's checkpoint, which backs the result, is held
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 1
