"""Round-15 (optimization round 2) tests: the graphNodeJoin=shuffle
fallback parity the r14 advisor flagged as untested (a typo'd conf
key or a broken fallback path must fail HERE, not on a production
graph that outgrows the broadcast limit)."""

from __future__ import annotations

from clickstreamtoclickhouse_spark import plans

SF_DIR = "/root/testdata/sf0.001"
NODE_KEY = "spark.clickstreamtoclickhouse.graphNodeJoin"


def test_graph_node_join_shuffle_fallback_parity(spark):
    """r14 advice: only screenJoin had a fallback parity test, while
    the forced broadcasts of node-volume graph state (k-core
    survivors, HITS scores, LPA labels) had an untested escape hatch.
    Build + run the graph trio under BOTH modes: results must be
    value-identical, and the conf must actually flip the plan (under
    shuffle the stats-less checkpointed state joins plan as
    SortMergeJoin — the r14-measured default-before-hints shape)."""
    names = (
        "part_copurchase_kcore",
        "part_hits_authorities",
        "part_copurchase_communities",
    )
    base = {
        n: sorted(map(tuple, plans.QUERIES[n](spark, SF_DIR).collect()))
        for n in names
    }
    spark.conf.set(NODE_KEY, "shuffle")
    try:
        for n in names:
            alt = sorted(
                map(tuple, plans.QUERIES[n](spark, SF_DIR).collect())
            )
            assert alt == base[n], n

        # the conf reaches the join sites: k_core's final degree pass
        # (the returned plan) joins the survivor set without the hint,
        # so the stats-less checkpoint plans as SortMergeJoin
        from clickstreamtoclickhouse_spark.functions.graph import k_core

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "a long, b long"
        )
        shuffle_plan = k_core(edges, k=2)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in shuffle_plan, shuffle_plan
    finally:
        spark.conf.unset(NODE_KEY)
    broadcast_plan = k_core(edges, k=2)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in broadcast_plan, broadcast_plan
