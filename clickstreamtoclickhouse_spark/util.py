"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: every SessionDFCache ever constructed, for registry-wide teardown —
#: see evict_session_caches().
_SESSION_CACHES: list["SessionDFCache"] = []


class SessionDFCache(dict):
    """The engine's ONE holder of cross-query state: a build shared by
    several registered queries, keyed (applicationId, sf_dir) -> the
    lazily localCheckpointed build. Library code never reaches for
    `.cache()` to share work between queries; it registers a cache here.

    Contract: the input dir is IMMUTABLE for the application's
    lifetime (the registry.load testdata contract); keys of stopped
    applications are dropped on every access, so a long-lived Python
    process restarting Spark sessions cannot accumulate stale
    DataFrames. Plain dict subclass so tests can inspect/plant entries
    directly.

    Memory ceiling: each cache holds ONE materialized localCheckpoint
    per (app, sf_dir) it has served, so a session's cache footprint is
    bounded by (number of distinct input dirs) x (sum of the
    registered caches' per-dir build sizes). A long-lived app walking
    many dirs releases one with `evict_session_caches(dir)` when done
    with it; bench.py and scripts/sf_probe.py call it in teardown.
    Every instance self-registers in `_SESSION_CACHES` (the `name` is
    diagnostic), so registry-wide teardown and the registry-wide
    eviction test cannot silently miss a new cache."""

    def __init__(self, name: str = ""):
        super().__init__()
        self.name = name
        _SESSION_CACHES.append(self)

    def get_or_build(self, spark: SparkSession, sf_dir: str, builder):
        """The entry for (this app, `sf_dir`), built on a miss.

        `builder` returns one DataFrame or a tuple. Every DataFrame in
        the entry is pinned with `ckpt_once` (an element the builder
        already checkpointed, e.g. one a later element chains off, is
        not wrapped twice); other tuple elements (the BPE merge list)
        ride along unchanged. Return a tuple when a derived DataFrame
        closes over a sibling build: cached separately, the derived
        entry could outlive an evicted base whose checkpoint blocks
        are gone, failing with checkpoint-block-not-found."""
        app_id = spark.sparkContext.applicationId
        for k in [k for k in self if k[0] != app_id]:
            del self[k]
        key = (app_id, sf_dir)
        cached = self.get(key)
        if cached is not None:
            return cached
        entry = builder()
        if isinstance(entry, tuple):
            entry = tuple(
                ckpt_once(x) if isinstance(x, DataFrame) else x for x in entry
            )
        else:
            entry = ckpt_once(entry)
        self[key] = entry
        return entry

    def evict(self, sf_dir: str | None = None) -> int:
        """Release entries for `sf_dir` (or all); returns the count.

        Every DataFrame of an entry has its checkpoint blocks released;
        the evicted objects must not be reused afterwards (callers
        rebuild via get_or_build)."""
        n = 0
        for k in list(self):
            if sf_dir is None or k[1] == sf_dir:
                entry = self.pop(k)
                for x in entry if isinstance(entry, tuple) else (entry,):
                    if isinstance(x, DataFrame):
                        release_local_checkpoint(x)
                n += 1
        return n


def ckpt_once(df: DataFrame) -> DataFrame:
    """Pin `df` so that one query's several consumers share ONE
    execution: a lazy localCheckpoint, skipped when the plan is
    already a LogicalRDD (a checkpoint the caller made) — wrapping
    again would double the stored blocks. The pin lives as long as the
    DataFrame: the ContextCleaner reclaims its blocks once the object
    is garbage, or `release_local_checkpoint` frees them at once.
    Reuse ACROSS queries goes through SessionDFCache instead."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        return df
    return df.localCheckpoint(eager=False)


def release_local_checkpoint(df: DataFrame) -> None:
    """Release a localCheckpointed DataFrame's storage blocks NOW — the
    engine's one release call (loop rounds, stream batches, session
    cache eviction).

    The blocks live on the underlying checkpoint RDD, which
    `DataFrame.unpersist()` does NOT touch (that only clears
    cacheManager entries — measured: blocks survive) and which the
    JVM ContextCleaner only reclaims at driver GC — too lazy for a
    loop or a long-running stream checkpointing every round or
    micro-batch. Unpersist the LogicalRDD's backing RDD directly,
    blocking, so storage has shrunk when this returns; the DataFrame
    must not be used afterwards. Safe no-op if the app is already
    stopped (its blocks are gone anyway) or the plan is not a
    materialized checkpoint."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
        else:
            df.unpersist()
    except Exception:  # noqa: BLE001
        pass


def evict_session_caches(sf_dir: str | None = None) -> int:
    """Release every registered SessionDFCache's entries for `sf_dir`
    (or all dirs); returns the total evicted. The one eviction hook: a
    multi-sf_dir session (bench, probe, a long-lived service) calls it
    between dirs so checkpoint storage actually shrinks instead of
    accumulating one build per cache per dir. Derived layers (the
    triangle cache checkpointing off the edge build) are registered
    too, so one call drops them together."""
    return sum(c.evict(sf_dir) for c in _SESSION_CACHES)


#: row bound of every table a driver-side solve collects (nodes, edges,
#: transition matrices, sources) — see bounded_collect
DRIVER_SOLVE_LIMIT = 10_000


def bounded_collect(df: DataFrame, limit: int, what: str) -> list:
    """`df.collect()` for a table that must stay driver-sized: fetches
    at most `limit + 1` rows and raises ValueError when more than
    `limit` come back, so the driver never holds more than that — the
    guard runs BEFORE anything unbounded reaches it. `what` names the
    table in the error."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"{what}: more than {limit:,} rows; the driver-side solve "
            "assumes a bounded table"
        )
    return rows


def round_half_up(x: float, places: int) -> float:
    """Round like Spark's F.round — BigDecimal.valueOf(double) HALF_UP
    on the shortest decimal repr — so driver-side solves bit-match the
    engine (and DuckDB, whose round agrees on non-negative values)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(
            Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP
        )
    )


def portable_id_hash(col):
    """First 8 md5 hex digits of a (numeric or string) id as a
    bigint — the engine's ONE portable hash for deterministic
    sampling/splitting: identical in Spark
    (conv(substr(md5(cast),1,8),16,10)) and DuckDB
    (('0x' || substr(md5(CAST(id AS VARCHAR)),1,8))::BIGINT), stable
    across runs, engines, and cluster layouts. Keep every call site on
    this helper: a divergent copy silently breaks Spark/oracle parity."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    c = col if isinstance(col, Column) else F.col(col)
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )


def portable_id_hash_sql(expr: str) -> str:
    """Spark-SQL-text form of ``portable_id_hash`` for use inside SQL
    lambda strings (F.transform/aggregate bodies can't always take a
    Column helper). `expr` is a SQL string expression. Keep every
    inline SQL hash on this builder — same single-source rule as the
    Column form."""
    return (
        f"cast(conv(substr(md5(cast({expr} as string)), 1, 8), 16, 10) "
        "as bigint)"
    )


def portable_id_hash_duck(expr: str) -> str:
    """DuckDB-text twin of ``portable_id_hash`` for oracle SQL.
    `expr` is a VARCHAR expression."""
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def widen_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition `df` to the session's core count IFF its
    scan is under-partitioned (fewer splits than cores). Fan-out-heavy
    operators (shingling, per-dim projections, subspace encodes) do
    O(10-100)x of their work in the MAP stage; a small single-split
    parquet input pins all of it to one task. A production-scale scan
    already carries thousands of splits, so the branch never fires and
    no shuffle is added; when it does fire the payload is only the
    small input itself. The explicit numPartitions keeps AQE from
    re-coalescing the widened exchange.

    NOT a blanket default: apply only where an A/B shows a win. For
    pure fan-out+reduce plans (substring_dup_spans 2.8s->1.3s, the PQ
    subspace encode) it wins big; for join-heavy consumers that pin
    the exploded table and lean on AQE runtime broadcasts
    (jaccard/minhash/simhash pair generation) or iterate over a
    checkpoint (k-means, BoW) the extra exchange measured 1.2-3x
    SLOWER at sf0.1, so those call sites deliberately do not widen."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def conf_broadcast(
    df: DataFrame, key: str = "spark.clickstreamtoclickhouse.screenJoin"
):
    """F.broadcast(df) unless the session conf `key` is 'shuffle'.

    For joins whose small side is HIT-VOLUME (flagged doc ids,
    covered-position arrays): bounded in practice — screens assume
    contamination is rare — but corpus-dependent in the worst case,
    where a FORCED broadcast would blow the driver/executor broadcast
    limits (the r12 domain_blocklist_report lesson, generalized).
    Setting the conf to 'shuffle' drops the hint so the size-based
    planner / AQE decides; results are identical either way
    (test_screen_join_shuffle_fallback_parity)."""
    from pyspark.sql import functions as F

    mode = df.sparkSession.conf.get(key, "broadcast")
    return F.broadcast(df) if mode == "broadcast" else df
