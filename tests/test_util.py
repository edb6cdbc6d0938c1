"""util helpers and package-wide guards.

Pin lifecycle: SessionDFCache is the only cross-query state,
ckpt_once the only within-query pin, release_local_checkpoint the
only release; bounded_collect guards every driver-side solve."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

from clickstreamtoclickhouse_spark import util
from clickstreamtoclickhouse_spark.util import portable_id_hash

from .conftest import SF_DIR

PKG = Path(util.__file__).resolve().parent


def test_portable_id_hash_matches_duckdb(spark):
    import duckdb

    from pyspark.sql import functions as F

    df = spark.range(0, 50).select(F.col("id"))
    got = {
        r["id"]: r["h"]
        for r in df.select("id", portable_id_hash("id").alias("h")).collect()
    }
    want = dict(
        duckdb.sql(
            "SELECT i, ('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8))::BIGINT "
            "FROM range(50) t(i)"
        ).fetchall()
    )
    assert got == want


# -- driver-side solves: guard before the collect ----------------------


def test_bounded_collect_limits(spark):
    df = spark.range(10)
    assert sorted(r.id for r in util.bounded_collect(df, 10, "ids")) == list(
        range(10)
    )
    with pytest.raises(ValueError, match="ids: more than 9 rows"):
        util.bounded_collect(df, 9, "ids")
    assert util.bounded_collect(df.limit(0), 0, "none") == []


def test_driver_solve_guard_raises(spark, monkeypatch):
    """The vertex guard of transition_pagerank fires on the bounded
    node table, before the |nodes|^2 edge-weight table is collected."""
    from clickstreamtoclickhouse_spark import plans
    from clickstreamtoclickhouse_spark.plans import relational

    monkeypatch.setattr(relational, "DRIVER_SOLVE_LIMIT", 2)
    with pytest.raises(ValueError, match="transition_pagerank: event types"):
        plans.QUERIES["transition_pagerank"](spark, SF_DIR)


def test_round_half_up_matches_spark_round(spark):
    from pyspark.sql import functions as F

    xs = [0.125, 2.675, 1.0000005, 0.3333333335, 1e-10, 12345.6789, 0.0]
    got = [util.round_half_up(x, p) for x in xs for p in (2, 6, 9)]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    want = [
        r[f"r{p}"]
        for r in df.select(
            *(F.round("x", p).alias(f"r{p}") for p in (2, 6, 9))
        ).collect()
        for p in (2, 6, 9)
    ]
    assert got == want


# -- pin lifecycle ------------------------------------------------------


def test_session_cache_tuple_entry_pins_only_dataframes(spark, tmp_path):
    """A tuple entry checkpoints its DataFrames (once: an element the
    builder already checkpointed is kept as is) and carries other
    elements unchanged; eviction releases the DataFrames' blocks."""
    cache = util.SessionDFCache("tuple_entry_test")
    try:
        eager = spark.range(4).localCheckpoint(eager=True)
        built = []

        def build():
            built.append(1)
            return spark.range(3), eager, (("a", "b"),)

        lazy, kept, merges = cache.get_or_build(spark, str(tmp_path), build)
        assert cache.get_or_build(spark, str(tmp_path), build)[0] is lazy
        assert len(built) == 1
        assert kept is eager and merges == (("a", "b"),)
        plan = lazy._jdf.queryExecution().analyzed()
        assert plan.getClass().getSimpleName() == "LogicalRDD"
        assert lazy.count() == 3
        rdd_ids = {
            df._jdf.queryExecution().analyzed().rdd().id()
            for df in (lazy, kept)
        }

        def stored() -> set[int]:
            return {
                i.id()
                for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            }

        assert rdd_ids <= stored()
        assert cache.evict(str(tmp_path)) == 1
        assert rdd_ids.isdisjoint(stored())
    finally:
        cache.evict()
        util._SESSION_CACHES.remove(cache)


def test_near_dup_queries_leave_cache_manager_empty(spark):
    """Within-query reuse in the dedup operators is a ckpt_once pin,
    never a plan-keyed .cache(): running the near-dup family must not
    leave a CacheManager entry that eviction cannot reach."""
    from clickstreamtoclickhouse_spark import plans

    spark.catalog.clearCache()  # other modules cache `documents`
    for name in ("dedup_clusters", "jaccard_near_dups", "simhash_near_dups"):
        assert plans.QUERIES[name](spark, SF_DIR).count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _calls(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            yield node


def test_library_code_never_caches():
    """`.cache()` / `.persist(` only where the owner releases them: the
    ingest batch (IngestResult.unpersist) and the streaming
    foreachBatch bodies (unpersist in `finally`)."""
    owned = {PKG / "pipeline.py", PKG / "sources" / "readers.py"}
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path in owned or (PKG / "streaming") in path.parents:
            continue
        for call in _calls(ast.parse(path.read_text())):
            if call.func.attr in ("cache", "persist"):
                found.append(f"{path.relative_to(PKG)}:{call.lineno}")
    assert not found, found


def test_stream_operators_write_only_through_txlog():
    """A `.write` attribute appears only in the package's three write
    paths: `sinks/txlog.py` (every owned parquet table commits through
    `TxLogTable`), `sinks/clickhouse.py` (the JDBC insert) and `app.py`
    (`run --output` writes a query result to a user path, not a
    table). `.writeStream` starts a query and is a different name."""
    allowed = {PKG / "sinks" / "txlog.py", PKG / "sinks" / "clickhouse.py", PKG / "app.py"}
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path in allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "write":
                found.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not found, found


def test_checkpoint_rdds_released_in_one_place():
    """`.rdd().unpersist` appears only inside
    util.release_local_checkpoint."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed: set[int] = set()
        if path == PKG / "util.py":
            fn = next(
                n
                for n in tree.body
                if isinstance(n, ast.FunctionDef)
                and n.name == "release_local_checkpoint"
            )
            allowed = {id(c) for c in _calls(fn)}
        for call in _calls(tree):
            inner = call.func.value
            if (
                call.func.attr == "unpersist"
                and isinstance(inner, ast.Call)
                and isinstance(inner.func, ast.Attribute)
                and inner.func.attr == "rdd"
                and id(call) not in allowed
            ):
                found.append(f"{path.relative_to(PKG)}:{call.lineno}")
    assert not found, found
