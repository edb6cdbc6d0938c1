"""Second wave of the analytical layer (SURVEY.md §2.5-2.7 breadth +
query-shaped probes of the ingest operators §2.3-2.4).

Covers: rollup/grouping sets, exact percentiles, pivot, set ops
(intersect/except), semi join, ranked windows (dense_rank/top-k per
group), a scalable as-of join, timezone/epoch transforms as queries,
and a try_cast misfit-quarantine probe — each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..operators import coerce
from ..util import DRIVER_SOLVE_LIMIT, bounded_collect, round_half_up
from .registry import load, query

# ---------------------------------------------------------------------------
# Aggregation breadth
# ---------------------------------------------------------------------------


@query(
    "rollup_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (status, priority) -> (status) -> ().
    Spark expands grouping sets in one pass (Expand operator), partial
    aggs map-side — no per-level rescan."""
    o = load(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`). At 100 TB swap to percentile_approx
    (t-digest) — kept exact here for oracle comparability."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


@query(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping combinations in one Expand pass."""
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


@query(
    "orders_above_avg",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS min_price
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
)
def orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: filter against a global aggregate, expressed
    as a broadcast of the 1-row aggregate — fully lazy (no driver
    collect), and the broadcast-NLJ against one row costs nothing."""
    o = load(spark, sf_dir, "orders")
    avg_df = o.agg(F.avg("o_totalprice").alias("_avg_price"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("_avg_price"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
        )
    )


# KMV (k-minimum-values / bottom-k) distinct sketch — Bar-Yossef et
# al. 2002, public method. Estimate = (k-1)/u_(k) where u_(k) is the
# k-th smallest normalized hash; below k distinct hashes the sketch IS
# the exact count. Unlike HLL (whose sketch bytes and estimator are
# engine-internal), every step is portable arithmetic on
# util.portable_id_hash, so the whole estimator is oracle-checked.
_KMV_K = 64
_KMV_NORM = 4294967296.0  # 2^32: portable_id_hash range is [0, 2^32)


def _kmv_estimate_sql(kept: str) -> str:
    """Estimate SELECT over a `kept` CTE of (event_type, h) bottom-k
    rows — shared by both KMV oracles below so the estimator arithmetic
    cannot drift between them."""
    return f"""
    SELECT event_type,
           round(CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS DOUBLE)
                      ELSE {float(_KMV_K - 1)}
                           / (CAST(max(h) AS DOUBLE) / {_KMV_NORM}) END,
                 4) AS approx_users
    FROM {kept} GROUP BY event_type"""


def _kmv_estimate(kept: DataFrame) -> DataFrame:
    """Spark twin of _kmv_estimate_sql over (event_type, h) rows."""
    n = F.count(F.lit(1))
    est = F.when(n < _KMV_K, n.cast("double")).otherwise(
        F.lit(float(_KMV_K - 1)) / (F.max("h").cast("double") / F.lit(_KMV_NORM))
    )
    return kept.groupBy("event_type").agg(F.round(est, 4).alias("approx_users"))


@query(
    "approx_distinct_users",
    oracle=f"""
    WITH hs AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events
    ),
    kept AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hs
      ) WHERE rn <= {_KMV_K}
    )
    {_kmv_estimate_sql('kept')}
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate count-distinct via a PORTABLE KMV (bottom-k)
    sketch, fully oracle-checked: distinct (type, hash) -> per-type
    bottom-k window (WindowGroupLimit-pruned) -> closed-form estimate.
    Accuracy vs exact distinct pinned in test_extensions
    (rse ≈ 1/sqrt(k-2)). The engine-native HLL++ single-shot
    (`hll_approx_distinct_users` below) stays the library fast path —
    its sketch bytes and estimator are engine-internal, so it can't be
    value-checked cross-engine. The exact variant is oracle-checked in
    daily_events.

    Cardinality ceiling: `portable_id_hash` maps into a 32-bit
    domain, so per-type cardinalities approaching 2^32 suffer hash
    collisions that bias the KMV estimate LOW and saturate near
    ~4.3e9. Callers with hundreds of millions+ distinct users per
    type should use `hll_approx_distinct_users` (64-bit HLL++
    internals) — this portable form trades that ceiling for
    cross-engine verifiability."""
    from ..util import portable_id_hash

    e = load(spark, sf_dir, "events")
    hs = e.select(
        "event_type", portable_id_hash(F.col("user_id")).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kept = (
        hs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )
    return _kmv_estimate(kept)


def hll_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the engine-native
    library fast path behind `approx_distinct_users` (registered
    portable-KMV). Accuracy pinned in test_extensions."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


@query(
    "sketch_rollup_users",
    oracle=f"""
    WITH hs AS (
      SELECT DISTINCT event_type, strftime(ts, '%Y-%m-%d') AS d,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events
    ),
    daily AS (
      SELECT event_type, h FROM (
        SELECT event_type, d, h,
               row_number() OVER (PARTITION BY event_type, d ORDER BY h) AS rn
        FROM hs
      ) WHERE rn <= {_KMV_K}
    ),
    merged AS (SELECT DISTINCT event_type, h FROM daily),
    kept AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM merged
      ) WHERE rn <= {_KMV_K}
    )
    {_kmv_estimate_sql('kept')}
    """,
)
def sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch ROLLUP with the portable KMV sketch, fully
    oracle-checked: one bottom-k sketch per (event_type, day) — the
    granularity a pre-aggregated rollup table would persist — then the
    per-type merge is union -> distinct -> bottom-k again (KMV merge
    is exactly that, which is what makes it associative), and the same
    closed-form estimate as `approx_distinct_users`. This keeps the
    100 TB pattern the HLL variant demonstrates — day partitions
    scanned once, re-aggregation touches only k longs per sketch, any
    rollup level (day->month->all) reuses stored state — while making
    every merged value hash-checkable cross-engine. The Datasketches
    HLL rollup (`hll_sketch_rollup_users`) stays the library fast
    path; both are accuracy-pinned in test_extensions."""
    from ..util import portable_id_hash

    e = load(spark, sf_dir, "events")
    hs = e.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        portable_id_hash(F.col("user_id")).alias("h"),
    ).distinct()
    wd = Window.partitionBy("event_type", "d").orderBy("h")
    daily = (
        hs.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )
    merged = daily.distinct()
    wm = Window.partitionBy("event_type").orderBy("h")
    kept = (
        merged.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )
    return _kmv_estimate(kept)


def hll_sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Datasketches HLL, built into Spark 4):
    build ONE sketch per (event_type, day), then union the daily
    sketches per event_type and estimate — the engine-native library
    fast path behind `sketch_rollup_users` (registered portable-KMV).
    Accuracy vs exact distinct is pinned in test_extensions."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "event_type_pivot",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
    FROM events
    GROUP BY 1
    """,
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per event type (explicit value list — never
    let pivot scan for distinct values at scale), counts filled 0."""
    e = load(spark, sf_dir, "events")
    out = (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("event_date"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return out.na.fill(0, list(_EVENT_TYPES))


# ---------------------------------------------------------------------------
# Set operations & semi join
# ---------------------------------------------------------------------------


@query(
    "purchaser_clicker_sets",
    oracle="""
    SELECT 'both' AS segment, count(*) AS n_users FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'click')
    UNION ALL
    SELECT 'click_only', count(*) FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase')
    """,
)
def purchaser_clicker_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect / exceptAll-distinct set ops (SURVEY §2.6)."""
    e = load(spark, sf_dir, "events")
    clickers = e.filter(F.col("event_type") == "click").select("user_id")
    purchasers = e.filter(F.col("event_type") == "purchase").select("user_id")
    both = clickers.intersect(purchasers).agg(F.count("*").alias("n_users")).select(
        F.lit("both").alias("segment"), "n_users"
    )
    # subtract = SQL EXCEPT (set difference); exceptAll would keep
    # leftover multiplicities and overcount
    click_only = clickers.subtract(purchasers).agg(
        F.count("*").alias("n_users")
    ).select(F.lit("click_only").alias("segment"), "n_users")
    return both.unionByName(click_only)


@query(
    "customers_with_urgent_orders",
    oracle="""
    SELECT count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): urgent-order keys reduced to distinct
    before the shuffle."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Ranked windows
# ---------------------------------------------------------------------------


@query(
    "top_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_name, round(p_retailprice, 2) AS price
    FROM part
    QUALIFY row_number() OVER (
      PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) <= 2
    """,
)
def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: single window shuffle on the group key."""
    p = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("p_brand", "p_partkey", "p_name", F.round("p_retailprice", 2).alias("price"))
    )


@query(
    "segment_revenue_rank",
    oracle="""
    WITH cust_rev AS (
      SELECT c.c_mktsegment, c.c_custkey,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment, c_custkey, revenue,
           CAST(dense_rank() OVER (
             PARTITION BY c_mktsegment ORDER BY revenue DESC, c_custkey) AS INT
           ) AS seg_rank
    FROM cust_rev
    QUALIFY seg_rank <= 3
    """,
)
def segment_revenue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank within group over a pre-aggregated join — the agg
    happens BEFORE the window so the window input is one row per
    customer, not per order."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    rev = (
        o.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select("c_mktsegment", "c_custkey", "revenue")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("revenue"), "c_custkey")
    return (
        rev.withColumn("seg_rank", F.dense_rank().over(w).cast("int"))
        .filter(F.col("seg_rank") <= 3)
    )


@query(
    "value_mad_by_type",
    oracle="""
    SELECT event_type,
           round(mad(value), 4) AS value_mad
    FROM events
    GROUP BY event_type
    """,
)
def value_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via grouped-map applyInPandas (SURVEY §2.10 escape
    hatch): median absolute deviation per event type — an aggregate
    Spark has no builtin for. Arrow-batched pandas per group; groups
    are the 5 event types so parallelism is bounded by group count
    (fine for a demo aggregate; a high-cardinality-key UDAF would be
    the same code)."""
    import pandas as pd

    e = load(spark, sf_dir, "events").select("event_type", "value")

    def mad(pdf: "pd.DataFrame") -> "pd.DataFrame":
        v = pdf["value"]
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "value_mad": [round(float((v - v.median()).abs().median()), 4)],
            }
        )

    return e.groupBy("event_type").applyInPandas(
        mad, schema="event_type string, value_mad double"
    )


# ---------------------------------------------------------------------------
# As-of join (Spark has no native one — SURVEY §2.11 / guide pattern)
# ---------------------------------------------------------------------------


@query(
    "asof_event_order",
    oracle="""
    SELECT event_id,
           user_id,
           o.o_orderkey AS asof_orderkey
    FROM events e
    LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    QUALIFY row_number() OVER (
      PARTITION BY event_id ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) = 1
    """,
)
def asof_event_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the user's most recent order at or
    before the event time.

    Scalable formulation — NOT the naive range join (whose candidate
    set is |events| × |orders-per-user|): tag orders and events, union
    on (user, time), and carry the last-seen order forward with a
    running window. ONE shuffle + sort on (user_id), linear in
    |events| + |orders|; this is the standard merge-asof expressed
    relationally. The oracle states the naive definition; results are
    identical."""
    e = load(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("uid"), F.col("ts"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(1).alias("is_event"),
    )
    o = load(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_custkey").alias("uid"), F.col("o_orderdate").alias("ts"),
        "o_orderkey",
        F.lit(0).alias("is_event"),
    )
    merged = e.unionByName(o)
    # order: time, orders-before-events at equal ts (is_event asc),
    # then orderkey so "latest order" ties break to the max key
    w = (
        Window.partitionBy("uid")
        .orderBy("ts", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
        .select("event_id", F.col("uid").alias("user_id"), "asof_orderkey")
    )


@query(
    "acctbal_unpivot",
    oracle="""
    WITH s AS (
      SELECT c_mktsegment,
             round(avg(c_acctbal), 2) AS avg_bal,
             round(min(c_acctbal), 2) AS min_bal,
             round(max(c_acctbal), 2) AS max_bal
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, 'avg_bal' AS stat, avg_bal AS val FROM s
    UNION ALL
    SELECT c_mktsegment, 'min_bal', min_bal FROM s
    UNION ALL
    SELECT c_mktsegment, 'max_bal', max_bal FROM s
    """,
)
def acctbal_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide per-segment stats -> long (segment, stat,
    val) via stack() — the inverse of event_type_pivot."""
    c = load(spark, sf_dir, "customer")
    wide = c.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )
    return wide.select(
        "c_mktsegment",
        F.expr(
            "stack(3, 'avg_bal', avg_bal, 'min_bal', min_bal, 'max_bal', max_bal)"
        ).alias("stat", "val"),
    )


@query(
    "part_price_bands",
    oracle="""
    WITH bands AS (
      SELECT CAST(floor(p_retailprice / 10) AS BIGINT) AS band,
             p_partkey, p_retailprice
      FROM part
    )
    SELECT band,
           CAST(band * 10 AS BIGINT) AS band_lo,
           CAST((band + 1) * 10 AS BIGINT) AS band_hi,
           count(*) AS n_parts,
           round(avg(p_retailprice), 2) AS avg_price
    FROM bands
    GROUP BY band
    """,
)
def part_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-join pattern, bucketized: instead of joining parts to a
    band table on (lo <= price < hi) — a quadratic-candidate range
    join — the range key is bucketized (floor(price/width), width=10 to match the data's 900-1000 range) and the
    'join' becomes a groupBy on the computed band. This is the guide's
    range-join-at-scale recipe expressed as a query."""
    p = load(spark, sf_dir, "part")
    band = F.floor(F.col("p_retailprice") / 10).cast("long")
    return (
        p.withColumn("band", band)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
        )
        .select(
            "band",
            (F.col("band") * 10).cast("long").alias("band_lo"),
            ((F.col("band") + 1) * 10).cast("long").alias("band_hi"),
            "n_parts",
            "avg_price",
        )
    )


@query(
    "orders_above_customer_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders
    QUALIFY o_totalprice > avg(o_totalprice) OVER (PARTITION BY o_custkey)
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate filter (each order vs ITS customer's
    average) — decorrelated into a per-key window aggregate: one
    shuffle on o_custkey, no self-join, no subquery per row."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    )


# ---------------------------------------------------------------------------
# Transform probes (T7/T8 as queries) + cast quarantine (C2-C5)
# ---------------------------------------------------------------------------


@query(
    "time_bucket_rollup",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 15 MINUTE, ts), '%Y-%m-%d %H:%M:%S')
             AS bucket_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03'
    GROUP BY 1, 2
    """,
)
def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: fixed time-bucket
    rollup (15-minute buckets) per event type. Spark's window()
    tumbling bucket == DuckDB's time_bucket for UTC-aligned
    intervals. The streaming twin is streaming/ingest.windowed_counts
    — same bucket semantics with a watermark."""
    e = load(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    return (
        e.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "time_gap_fill",
    oracle="""
    WITH e AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-03'),
    b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n, sum(value) AS av
      FROM e GROUP BY 1, 2
    ),
    bounds AS (
      SELECT min(date_trunc('hour', ts)) AS mn,
             max(date_trunc('hour', ts)) AS mx
      FROM e
    ),
    types AS (SELECT DISTINCT event_type FROM e),
    spine AS (
      SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
      FROM types, bounds
    ),
    j AS (
      SELECT s.event_type, s.bucket,
             CAST(coalesce(b.n, 0) AS BIGINT) AS n_events, b.av
      FROM spine s LEFT JOIN b USING (event_type, bucket)
    )
    SELECT event_type,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           n_events,
           round(coalesce(
             last_value(av IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket
               ROWS UNBOUNDED PRECEDING), 0.0), 2) AS sum_value_ffill
    FROM j
    """,
)
def time_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable resample: gap-fill + forward-fill. A dense
    (event_type × hour) spine is generated from the observed bounds
    (1-row aggregate broadcast + sequence explode — the spine is
    never shuffled at data scale), observed buckets left-join onto
    it, missing counts become 0, and the forward-fill is
    last(ignorenulls) over a per-type time window — the standard
    TimescaleDB locf/gapfill semantics expressed as DataFrame ops.
    The carried metric is the hourly SUM: the testdata values are
    cent-quantized, so sums stay off the half-cent rounding ties
    where Spark's shortest-decimal HALF_UP and DuckDB's
    binary-value rounding of an avg legitimately disagree."""
    e = load(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    b = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").alias("n"), F.sum("value").alias("av"))
    bounds = e.agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("mn"),
        F.max(F.date_trunc("hour", F.col("ts"))).alias("mx"),
    )
    spine = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("bucket"),
        )
    )
    j = spine.join(b, ["event_type", "bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.round(
            F.coalesce(F.last("av", ignorenulls=True).over(w), F.lit(0.0)), 2
        ).alias("sum_value_ffill"),
    )


@query(
    "conversion_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id
    )
    SELECT 'view' AS step, count(*) AS n_users,
           CAST(0 AS BIGINT) AS total_latency_us
    FROM s1
    UNION ALL
    SELECT 'click', count(*),
           CAST(sum(epoch_us(t2) - epoch_us(t1)) AS BIGINT)
    FROM s2 JOIN s1 USING (user_id)
    UNION ALL
    SELECT 'purchase', count(*),
           CAST(sum(epoch_us(t3) - epoch_us(t2)) AS BIGINT)
    FROM s3 JOIN s2 USING (user_id)
    """,
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (view -> click -> purchase, each
    step strictly AFTER the previous step's first occurrence) — the
    classic clickstream analysis the reference's warehouse exists to
    serve. Sequential mins can't be one aggregation (step N's filter
    depends on step N-1's result), so each step is a filtered
    min-aggregate semi-joined to the previous step's per-user
    timestamps: three shuffles on user_id, each strictly shrinking.
    Latency totals are exact integer-microsecond sums (BIGINT both
    engines — no float rounding surface)."""
    e = load(spark, sf_dir, "events")

    def step(prev: DataFrame | None, etype: str, out_ts: str) -> DataFrame:
        s = e.filter(F.col("event_type") == etype)
        if prev is not None:
            prev_ts = prev.columns[1]
            s = s.join(prev, "user_id").filter(F.col("ts") > F.col(prev_ts))
        return s.groupBy("user_id").agg(F.min("ts").alias(out_ts))

    # r14: each step table feeds the next step AND 1-2 latency
    # readouts — unpinned, the chain re-derived s1 3x and s2 3x (18
    # events scans per action). Per-user narrow tables, one execution
    # each (guide §3.3).
    s1 = step(None, "view", "t1").localCheckpoint(eager=False)
    s2 = step(s1, "click", "t2").localCheckpoint(eager=False)
    s3 = step(s2, "purchase", "t3").localCheckpoint(eager=False)
    # exact integer microseconds both engines (unix_timestamp would
    # floor each side to seconds; DuckDB's epoch() keeps fractions)
    lat = lambda a, b: F.sum(F.unix_micros(b) - F.unix_micros(a)).cast("long")
    r1 = s1.agg(
        F.count("*").alias("n_users"), F.lit(0).cast("long").alias("total_latency_us")
    ).select(F.lit("view").alias("step"), "n_users", "total_latency_us")
    r2 = (
        s2.join(s1, "user_id")
        .agg(F.count("*").alias("n_users"), lat("t1", "t2").alias("total_latency_us"))
        .select(F.lit("click").alias("step"), "n_users", "total_latency_us")
    )
    r3 = (
        s3.join(s2, "user_id")
        .agg(F.count("*").alias("n_users"), lat("t2", "t3").alias("total_latency_us"))
        .select(F.lit("purchase").alias("step"), "n_users", "total_latency_us")
    )
    return r1.unionByName(r2).unionByName(r3)


_WF_WINDOW_US = 6 * 3600 * 1_000_000  # windowFunnel sliding window


@query(
    "window_funnel",
    oracle=f"""
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events
    ),
    lv AS (
      SELECT user_id, tsu, event_type,
             max(CASE WHEN event_type = 'view' THEN tsu END) OVER w AS v_prev
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY tsu
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    c2 AS (
      SELECT user_id, tsu, event_type, v_prev,
             max(CASE WHEN event_type = 'click' THEN v_prev END) OVER w AS vc_prev
      FROM lv
      WINDOW w AS (PARTITION BY user_id ORDER BY tsu
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    levels AS (
      SELECT user_id,
             max(CASE
                   WHEN event_type = 'purchase' AND vc_prev IS NOT NULL
                        AND tsu - vc_prev <= {_WF_WINDOW_US} THEN 3
                   WHEN event_type = 'click' AND v_prev IS NOT NULL
                        AND tsu - v_prev <= {_WF_WINDOW_US} THEN 2
                   WHEN event_type = 'view' THEN 1
                   ELSE 0 END) AS level
      FROM c2 GROUP BY user_id
    )
    SELECT CAST(level AS INT) AS level, count(*) AS n_users
    FROM levels WHERE level > 0 GROUP BY level
    """,
)
def window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `windowFunnel(window)(ts, ...)` analog (the function
    the reference's clickstream warehouse would reach for first;
    behavior per the public ClickHouse docs — NOT a code port): the
    deepest view -> click -> purchase chain per user whose total span
    fits in `_WF_WINDOW_US`, reported as users-per-level.

    Unlike `conversion_funnel` (first-occurrence chain, unbounded
    span), the chain here must COMPLETE within the window, and any
    qualifying chain counts — so the plan must consider every chain
    start, not just the first. The trick that keeps this one window
    pass instead of a k-way self-join: scanning in ts order, carry
    (a) the latest strictly-earlier view timestamp and (b) the
    latest view-start among strictly-earlier view->click chains —
    both conditional maxes over a RANGE frame ending at 1 PRECEDING
    (value-strict, so equal timestamps never see each other). Taking
    the LATEST viable chain start is the greedy that preserves
    completeness: any valid chain implies one whose start is the
    carried max, so the end-of-chain window test `t3 - t1 <= W` never
    misses. Two analytic passes over the same (user_id, tsu) sort
    order collapse into ONE shuffle + sort at scale; the level rollup
    is a map-side-combined count over <=3 keys."""
    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("tsu"), "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsu")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    et = F.col("event_type")
    lv = e.withColumn(
        "v_prev", F.max(F.when(et == "view", F.col("tsu"))).over(w)
    )
    c2 = lv.withColumn(
        "vc_prev", F.max(F.when(et == "click", F.col("v_prev"))).over(w)
    )
    win = F.lit(_WF_WINDOW_US)
    level = (
        F.when(
            (et == "purchase")
            & F.col("vc_prev").isNotNull()
            & (F.col("tsu") - F.col("vc_prev") <= win),
            3,
        )
        .when(
            (et == "click")
            & F.col("v_prev").isNotNull()
            & (F.col("tsu") - F.col("v_prev") <= win),
            2,
        )
        .when(et == "view", 1)
        .otherwise(0)
    )
    return (
        c2.groupBy("user_id")
        .agg(F.max(level).alias("level"))
        .filter(F.col("level") > 0)
        .groupBy(F.col("level").cast("int").alias("level"))
        .agg(F.count("*").alias("n_users"))
    )


_SEQ_SYMS = (
    ("view", "v"),
    ("click", "c"),
    ("purchase", "p"),
    ("signup", "s"),
    ("error", "e"),
)
_SEQ_PAT = "v.*?c.*?p"  # lazy: leftmost-shortest chains, both engines


@query(
    "sequence_match_events",
    oracle=f"""
    WITH syms AS (
      SELECT user_id, epoch_us(ts) AS tsu, event_id,
             CASE {' '.join(f"WHEN event_type = '{t}' THEN '{s}'" for t, s in _SEQ_SYMS)}
                  ELSE '_' END AS sym
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(sym, '' ORDER BY tsu, event_id) AS path
      FROM syms GROUP BY user_id
    )
    SELECT user_id, length(path) AS seq_len,
           CAST(CASE WHEN regexp_matches(path, '{_SEQ_PAT}') THEN 1 ELSE 0 END AS INT)
             AS has_chain,
           CAST(length(regexp_extract_all(path, '{_SEQ_PAT}')) AS INT) AS n_chains
    FROM paths
    """,
)
def sequence_match_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `sequenceMatch` / `sequenceCount` analog (public
    docs semantics, independent implementation): each user's event
    history becomes an ordered single-char symbol string, and chain
    detection/counting is regex over that string — `has_chain` is
    sequenceMatch('(?1).*(?2).*(?3)') for view/click/purchase,
    `n_chains` counts NON-OVERLAPPING leftmost-shortest chains (the
    lazy `.*?` quantifiers make each match end at the first
    completing purchase, so counting matches = greedily counting
    disjoint chains — ClickHouse's sequenceCount rule).

    Engine parity: the pattern uses only literals, `.` and lazy `*?`
    — semantics identical in Java regex (Spark) and RE2 (DuckDB),
    the same intersection-of-dialects stance as pii_scan. The path
    is built by array_sort(collect_list(struct(tsu, event_id, sym)))
    — struct order sorts by (tsu, event_id), matching the oracle's
    `string_agg(... ORDER BY tsu, event_id)` byte-for-byte.

    Scale: one shuffle keyed by user_id; per-user state is the
    symbol string (1 byte/event) — the same per-key memory contract
    ClickHouse's sequenceMatch has. For unbounded per-key histories,
    sessionize first (see `session_paths`) or pre-filter to the
    pattern's event types."""
    sym = F.col("event_type")
    expr = None
    for t, s in _SEQ_SYMS:
        expr = (
            F.when(sym == t, s) if expr is None else expr.when(sym == t, s)
        )
    expr = expr.otherwise("_")
    e = load(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("tsu"),
        "event_id",
        expr.alias("sym"),
    )
    paths = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("tsu", "event_id", "sym"))
                ),
                lambda x: x["sym"],
            ),
            "",
        ).alias("path")
    )
    pat = F.lit(_SEQ_PAT)
    return paths.select(
        "user_id",
        F.length("path").cast("long").alias("seq_len"),
        F.when(F.col("path").rlike(_SEQ_PAT), 1)
        .otherwise(0)
        .cast("int")
        .alias("has_chain"),
        F.regexp_count("path", pat).cast("int").alias("n_chains"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('day', ts)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(floor(date_diff('day', cohort_day, d) / 7.0) AS INT) AS week_n,
           count(DISTINCT a.user_id) AS n_active
    FROM activity a JOIN first_seen USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted
    distinct in each subsequent activity week. Two map-side-combined
    aggregations (first-seen per user, distinct active days) joined
    on user_id — at scale both sides co-partition on the join key, so
    the only real shuffle is the final cohort-week rollup."""
    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("cohort_day")
    )
    activity = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.floor(F.datediff("d", "cohort_day") / 7.0).cast("int").alias("week_n"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "hourly_anomalies",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS b, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
      FROM h GROUP BY event_type
    )
    SELECT event_type,
           strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(n AS BIGINT) AS n_events,
           round((n - mu) / sd, 4) AS zscore
    FROM h JOIN s USING (event_type)
    WHERE abs((n - mu) / sd) > 2
    """,
)
def hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly flags: hourly per-type counts more than
    2 sample-stddevs from that type's mean. The stats side collapses
    to one row per event type and broadcasts back onto the hourly
    series — the z-score pass never reshuffles the series, so the
    pattern holds when 'hourly per type' becomes 'per minute per
    metric per tenant' at production scale."""
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("b")
    ).agg(F.count("*").alias("n"))
    s = h.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        h.join(F.broadcast(s), "event_type")
        .filter(F.abs(z) > 2)
        .select(
            "event_type",
            F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            F.col("n").alias("n_events"),
            F.round(z, 4).alias("zscore"),
        )
    )


@query(
    "value_winsorized",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n,
           round(sum(e.value), 2) AS sum_raw,
           round(sum(least(greatest(e.value, b.lo), b.hi)), 2) AS sum_winsorized
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
)
def value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clipping (winsorization at p05/p95 per type) — the
    numeric-cleaning analog of the text quality filters. Per-type
    bounds collapse to a broadcast table; the clip is a pure
    least/greatest projection, so the data pass stays map-only. The
    exact `percentile` aggregate buffers each group in memory — this
    is the sf-bounded oracle baseline; value_winsorized_approx is the
    at-scale path (sampled bounds, bounded memory)."""
    e = load(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_raw"),
            F.round(
                F.sum(F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))),
                2,
            ).alias("sum_winsorized"),
        )
    )


@query(
    "value_winsorized_approx",
    oracle="""
    WITH e AS (SELECT event_type, event_id, value FROM events),
    hh AS (
      SELECT event_type, event_id, value,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM e
    ),
    samp AS (
      SELECT event_type, event_id, value FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY h, event_id) AS rn
        FROM hh
      ) WHERE rn <= 500
    ),
    sr AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS srn
      FROM samp
    ),
    sc AS (SELECT event_type, count(*) AS s FROM samp GROUP BY 1),
    b AS (
      SELECT sc.event_type,
             max(CASE WHEN sr.srn = (sc.s + 19) // 20 THEN sr.value END) AS lo,
             max(CASE WHEN sr.srn = (19 * sc.s + 19) // 20 THEN sr.value END) AS hi
      FROM sc JOIN sr USING (event_type)
      GROUP BY sc.event_type
    )
    SELECT e.event_type,
           count(*) AS n,
           round(sum(e.value), 2) AS sum_raw,
           round(sum(least(greatest(e.value, b.lo), b.hi)), 2) AS sum_winsorized
    FROM e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
)
def value_winsorized_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_winsorized's at-scale twin: p05/p95 clip bounds read off
    the deterministic bottom-k-by-hash sample (the
    value_deciles_approx machinery) instead of the exact `percentile`
    aggregate — which buffers every group member in executor memory
    and is the one unbounded-memory step in the exact form. Sample
    ranks, bounds (order statistics at ceil(0.05*s) / ceil(0.95*s)
    under (value, event_id)), and the clip are replicated exactly in
    the oracle. Plan: WindowGroupLimit-pruned sample + broadcast
    bounds + one map-side-combinable aggregate."""
    e = load(spark, sf_dir, "events").select("event_type", "event_id", "value")
    ws = Window.partitionBy("event_type").orderBy("h", "event_id")
    samp = (
        e.withColumn("h", _portable_id_hash("event_id"))
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 500)
        .drop("rn", "h")
    )
    b = (
        samp.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("value").alias("cv"), F.col("event_id").alias("cid")))
            ).alias("a"),
            F.count("*").alias("s"),
        )
        .select(
            "event_type",
            F.element_at("a", F.expr("int((s + 19) div 20)"))["cv"].alias("lo"),
            F.element_at("a", F.expr("int((19 * s + 19) div 20)"))["cv"].alias("hi"),
        )
    )
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_raw"),
            F.round(
                F.sum(F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))),
                2,
            ).alias("sum_winsorized"),
        )
    )


@query(
    "value_histogram",
    oracle="""
    SELECT event_type,
           CAST(CASE WHEN value < 0 THEN 0
                     WHEN value >= 100 THEN 21
                     ELSE floor(value / 5.0) + 1 END AS INT) AS bucket,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram (20 bins over [0,100), overflow buckets 0
    and 21) with the bucket arithmetic spelled out identically in
    both engines — width_bucket isn't in DuckDB, and an explicit
    floor(value/width) keeps bin-edge floating-point behavior
    bit-identical. One map-side-combinable aggregation."""
    e = load(spark, sf_dir, "events")
    bucket = (
        F.when(F.col("value") < 0, F.lit(0))
        .when(F.col("value") >= 100, F.lit(21))
        .otherwise(F.floor(F.col("value") / 5.0) + 1)
    ).cast("int")
    return e.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count("*").alias("n")
    )


@query(
    "lineitem_correlations",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(corr(l_extendedprice, l_quantity), 4) AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_discount), 4) AS price_disc_cov
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (Pearson corr, sample covariance) as
    grouped aggregates — single-pass map-side-combinable moments."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_discount"), 4).alias(
            "price_disc_cov"
        ),
    )


@query(
    "order_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT)
             AS gid,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube) with
    grouping_id disambiguation — the remaining member of the
    multi-level aggregation family, one Expand pass."""
    o = load(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("int")
        .alias("gid"),
        F.count("*").alias("n_orders"),
    )


@query(
    "session_stats",
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    labeled AS (
      SELECT *, CAST(sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
      FROM s
    )
    SELECT user_id, session_n,
           count(*) AS n_events,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us,
           CAST(CASE WHEN count(*) = 1 THEN 1 ELSE 0 END AS INT) AS bounce,
           CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS INT) AS converted
    FROM labeled
    GROUP BY user_id, session_n
    """,
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SESSION statistics (duration, bounce, in-session
    conversion) on top of the 30-minute-gap sessionization: the lag
    flag, the cumulative session number, and the final per-session
    aggregate all partition on user_id, so one exchange serves the
    entire pipeline (same reuse property as `sessionization`,
    extended to session grain)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        e.withColumn("session_n", F.sum(is_new).over(cum).cast("long"))
        .groupBy("user_id", "session_n")
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .cast("long")
            .alias("duration_us"),
            F.when(F.count("*") == 1, 1).otherwise(0).cast("int").alias("bounce"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("int")
            .alias("converted"),
        )
    )


@query(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT prev AS from_type, event_type AS to_type, count(*) AS n
    FROM seq WHERE prev IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix (Markov chain counts
    over consecutive events per user): one lag window on user_id, one
    25-cell aggregate — the input to path analysis / next-event
    prediction features."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )


@query(
    "scd2_user_type_history",
    oracle="""
    WITH changes AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events WHERE user_id < 20
    ),
    starts AS (
      SELECT user_id, ts AS valid_from, event_id, event_type
      FROM changes
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id),
             '%Y-%m-%d %H:%M:%S') AS valid_to,
           event_type
    FROM starts
    """,
)
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 construction: collapse each
    user's event-type stream into validity intervals — a change-
    detection lag, a filter to change points, and a lead for the
    closing timestamp (open interval = NULL). Both windows partition
    on user_id, so the whole history build rides one exchange; this
    is the standard dimension-history pattern for replaying state as
    of any time."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("ts").over(w2), "yyyy-MM-dd HH:mm:ss").alias(
            "valid_to"
        ),
        "event_type",
    )


@query(
    "event_debounce",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 300 * 1000000
                  THEN 1 ELSE 0 END AS new_burst
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ),
    bursts AS (
      SELECT *, CAST(sum(new_burst) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS burst_n
      FROM s
    )
    SELECT user_id, event_type, burst_n,
           count(*) AS n_collapsed,
           CAST(min(event_id) AS BIGINT) AS kept_event_id
    FROM bursts
    GROUP BY user_id, event_type, burst_n
    """,
)
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce/throttle semantics: collapse bursts of the same
    (user, event_type) separated by < 5 minutes into one kept event —
    duplicate-click suppression, the event-level cousin of document
    dedup. Burst boundaries are the same gap-flag + cumulative-sum
    construction as sessionization (true debounce is sequentially
    dependent; gap-bursting is the standard relational equivalent),
    all on one (user_id, event_type) exchange."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_burst = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 300 * 1_000_000), 1
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.withColumn("burst_n", F.sum(new_burst).over(cum).cast("long"))
        .groupBy("user_id", "event_type", "burst_n")
        .agg(
            F.count("*").alias("n_collapsed"),
            F.min("event_id").cast("long").alias("kept_event_id"),
        )
    )


@query(
    "segment_revenue_share",
    oracle="""
    WITH seg AS (
      SELECT c.c_mktsegment AS mktsegment,
             sum(o.o_totalprice) AS revenue
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    )
    SELECT mktsegment,
           round(revenue, 2) AS revenue,
           round(revenue / sum(revenue) OVER (), 6) AS revenue_share,
           round(revenue / max(revenue) OVER (), 6) AS vs_best
    FROM seg
    """,
)
def segment_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each segment's share of total and of the best
    segment via empty-frame windows OVER () — computed on the
    5-row aggregate, so the 'global' window is over segment
    cardinality, never the fact table."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy()
    return seg.select(
        "mktsegment",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias(
            "revenue_share"
        ),
        F.round(F.col("revenue") / F.max("revenue").over(w), 6).alias("vs_best"),
    )


@query(
    "events_hourly_ist",
    oracle="""
    SELECT CAST(extract(hour FROM ts + INTERVAL 330 MINUTE) AS INT) AS ist_hour,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def events_hourly_ist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 as a query: wall-clock hour in Asia/Kolkata (UTC+5:30 —
    fixed offset, so the oracle can state it as an interval)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.hour(F.from_utc_timestamp("ts", "Asia/Kolkata")).cast("int").alias("ist_hour")
        ).agg(F.count("*").alias("n_events"))
    )


@query(
    "event_millis",
    oracle="""
    SELECT event_id, epoch_us(ts) // 1000 AS unix_millis
    FROM events WHERE event_id < 1000
    """,
)
def event_millis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 as a query: true-Int64 epoch millis from the event time."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return e.select(
        "event_id",
        (F.unix_micros(F.col("ts")) / F.lit(1000)).cast("long").alias("unix_millis"),
    )


@query(
    "cast_quarantine",
    oracle="""
    SELECT 'textual' AS column_name, count(*) AS n_misfits
    FROM documents
    WHERE text IS NOT NULL AND TRY_CAST(text AS DOUBLE) IS NULL
    """,
)
def cast_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-C5 probe through the real reconcile_types operator: a frame
    with one uncastable string column (text -> DOUBLE always fails)
    and one castable (stringified n_chars -> BIGINT never fails);
    misfit counts per column must match TRY_CAST semantics. Exercises
    the same single-pass misfit projection the ingest sink uses."""
    d = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("message_id"),
        F.col("text").alias("textual"),
        F.col("n_chars").cast("string").alias("numeric_str"),
    )
    expected = {"textual": T.DoubleType(), "numeric_str": T.LongType()}
    _, misfits = coerce.reconcile_types(d, expected, "probe")
    return misfits.groupBy("column_name").agg(F.count("*").alias("n_misfits"))


# ---------------------------------------------------------------------------
# Range join (bucketed) — SURVEY.md §2.6 extension tier
# ---------------------------------------------------------------------------


@query(
    "click_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    hits AS (
      SELECT p.event_id, count(*) AS n_clicks_30m
      FROM purchases p
      JOIN clicks c ON c.user_id = p.user_id
        AND c.ts >= p.ts - INTERVAL 30 MINUTE
        AND c.ts < p.ts
      GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CAST(coalesce(h.n_clicks_30m, 0) AS BIGINT) AS n_clicks_30m
    FROM purchases p LEFT JOIN hits h ON p.event_id = h.event_id
    """,
)
def click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window join: for every purchase, how many clicks
    the same user made in the 30 minutes before it (half-open
    [t-30m, t)). The oracle states it as the natural inequality
    join — which Spark would plan as a nested-loop scale-killer —
    while the Spark plan uses `rangejoin.point_in_interval_join`:
    intervals explode into 30-minute-bucket copies, the join is an
    equi-join on (user_id, bucket), and the exact range predicate
    filters post-join. Zero-click purchases are restored with a
    left join on the purchase key."""
    from ..functions import rangejoin

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("w_end"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w_start"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    pairs = rangejoin.point_in_interval_join(
        clicks,
        purchases,
        point_ts="c_ts",
        start="w_start",
        end="w_end",
        keys=("user_id",),
        bucket_seconds=1800,
    )
    hits = pairs.groupBy("event_id").agg(F.count("*").alias("_hits"))
    return (
        purchases.join(hits, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.date_format("w_end", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.coalesce(F.col("_hits"), F.lit(0))
            .cast("bigint")
            .alias("n_clicks_30m"),
        )
    )


# ---------------------------------------------------------------------------
# Round 4: time-range rolling windows + sketch heavy hitters
# ---------------------------------------------------------------------------


@query(
    "rolling_7d_user_value",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           round(sum(value) OVER w, 2) AS rolling_value,
           CAST(count(*) OVER w AS BIGINT) AS rolling_n
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts
      RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
    )
    """,
)
def rolling_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling aggregate per user: a RANGE-framed
    window over event time (frame = all rows within the preceding
    interval, NOT the preceding N rows — gaps and bursts are handled
    by value, which a ROWS frame gets wrong). The standard trailing
    MAU/spend/velocity feature in clickstream feature engineering.

    Scale: one hash shuffle on user_id; within a partition Spark
    evaluates the range frame with a sliding two-pointer pass over
    the sorted rows, O(n) per user, state bounded by the widest
    7-day burst. Frame bounds are inclusive on both engines (peers
    at the boundary instant are in-frame), so results match DuckDB's
    INTERVAL RANGE exactly; micros-precision ordering keeps ties
    identical."""
    e = load(spark, sf_dir, "events").withColumn(
        "_us", F.unix_micros(F.col("ts"))
    )
    seven_days_us = 7 * 86_400 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("_us")
        .rangeBetween(-seven_days_us, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round(F.sum("value").over(w), 2).alias("rolling_value"),
        F.count("*").over(w).cast("bigint").alias("rolling_n"),
    )


@query(
    "heavy_hitter_events",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
)
def heavy_hitter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the approx_top_k sketch (Spark 4's
    space-bounded frequent-items aggregate): the streaming-safe way
    to ask "which values dominate this column" without a full
    groupBy when the domain is huge (URLs, user agents, query
    strings). Sketches combine associatively map-side, so the
    shuffle moves one bounded sketch per partition — not one row per
    distinct value.

    The oracle is the EXACT group-count: with k (10) at least the
    column's distinct cardinality the sketch provably degenerates to
    exact counts, which turns an approximate operator into a
    hash-checkable query at test SF while keeping the at-scale
    operator shape. (For domains wider than k the driver-side check
    would be rows-only, like the HLL entries.)"""
    e = load(spark, sf_dir, "events")
    sk = e.agg(F.expr("approx_top_k(event_type, 10)").alias("tk"))
    return sk.select(F.explode("tk").alias("s")).select(
        F.col("s.item").alias("event_type"),
        F.col("s.count").cast("bigint").alias("n_events"),
    )


@query(
    "time_linear_interpolate",
    oracle="""
    WITH e AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-03'),
    b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS av
      FROM e GROUP BY 1, 2
    ),
    bounds AS (
      SELECT min(date_trunc('hour', ts)) AS mn,
             max(date_trunc('hour', ts)) AS mx
      FROM e
    ),
    types AS (SELECT DISTINCT event_type FROM e),
    spine AS (
      SELECT event_type,
             unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
      FROM types, bounds
    ),
    j AS (
      SELECT s.event_type, s.bucket,
             CAST(epoch(s.bucket) AS BIGINT) AS u,
             CAST(coalesce(b.n, 0) AS BIGINT) AS n_events, b.av
      FROM spine s LEFT JOIN b USING (event_type, bucket)
    ),
    anchored AS (
      SELECT *,
             last_value(CASE WHEN av IS NOT NULL
                             THEN struct_pack(u := u, v := av) END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS UNBOUNDED PRECEDING) AS prev,
             first_value(CASE WHEN av IS NOT NULL
                              THEN struct_pack(u := u, v := av) END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
      FROM j
    )
    SELECT event_type,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           n_events,
           round(CASE
             WHEN av IS NOT NULL THEN av
             WHEN prev IS NULL OR nxt IS NULL THEN NULL
             ELSE (prev).v + ((nxt).v - (prev).v)
                  * ((u - (prev).u) / ((nxt).u - (prev).u))
           END / 100.0, 2) AS sum_value_interp
    FROM anchored
    """,
)
def time_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable resample with LINEAR interpolation (TimescaleDB
    `interpolate()` semantics, the companion to time_gap_fill's
    locf): missing interior buckets get the time-weighted mix of the
    surrounding observed values; leading/trailing gaps (no anchor on
    one side) stay NULL.

    Same spine/join shape as time_gap_fill (1-row bounds broadcast +
    sequence explode, per-type left join); the anchors are one
    backward last(ignorenulls) and one forward first(ignorenulls)
    window over the SAME per-type ordering — Spark plans both over a
    single hash exchange. Anchors are EXACT cent sums (BIGINT), so
    the mix arithmetic starts from identical values in both engines
    and — with identical parenthesization — produces bit-equal
    doubles; a float sum's order-dependent ULPs would otherwise flip
    round(2) on boundary values."""
    e = load(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    b = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").alias("n"), F.sum(cents).cast("long").alias("av"))
    bounds = e.agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("mn"),
        F.max(F.date_trunc("hour", F.col("ts"))).alias("mx"),
    )
    spine = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("bucket"),
        )
    )
    j = spine.join(b, ["event_type", "bucket"], "left").withColumn(
        "u", (F.unix_micros(F.col("bucket")) / F.lit(1_000_000)).cast("bigint")
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    anchor = F.when(
        F.col("av").isNotNull(), F.struct(F.col("u"), F.col("av").alias("v"))
    )
    a = (
        j.withColumn("prev", F.last(anchor, ignorenulls=True).over(wb))
        .withColumn("nxt", F.first(anchor, ignorenulls=True).over(wf))
    )
    interp = F.when(F.col("av").isNotNull(), F.col("av")).otherwise(
        F.when(
            F.col("prev").isNotNull() & F.col("nxt").isNotNull(),
            F.col("prev.v")
            + (F.col("nxt.v") - F.col("prev.v"))
            * (
                (F.col("u") - F.col("prev.u"))
                / (F.col("nxt.u") - F.col("prev.u"))
            ),
        )
    )
    return a.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
        F.round(interp / 100.0, 2).alias("sum_value_interp"),
    )


@query(
    "value_deciles",
    oracle="""
    WITH d AS (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS decile,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type, decile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS sum_value
    FROM d GROUP BY 1, 2
    """,
)
def value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth discretization: per-type value deciles via ntile
    over a deterministic total order (value, event_id), with count /
    min / max / exact cent-sum per bucket — the binning step behind
    quantile features and monotonic score calibration.

    The per-type sort window is the EXACT-oracle baseline (bounded by
    the largest single type's rows, fine at test SF); the at-scale
    path is approxQuantile cut points broadcast onto the stream — the
    same two-phase trade training_data_selection already
    demonstrates. Sums are computed on round(value*100) cents as
    BIGINT so engine summation order cannot move the rounded total."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    d = e.select(
        "event_type",
        "value",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    return d.groupBy("event_type", "decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(F.sum("cents") / 100.0, 2).alias("sum_value"),
    )


# Deterministic-sample quantile machinery (the at-scale path for
# value_deciles / rfm_segments): instead of ntile over an unbounded
# sort — whose input cardinality grows with the data and funnels
# through one task per partition-key — take a FIXED-SIZE deterministic
# sample (bottom-k by the portable md5 id hash, the dataset_split
# construction), read exact quantile cut points off the bounded
# sample, broadcast the ≤9 (resp. ≤4) cut pairs, and assign buckets by
# lexicographic comparison. Every step is exactly replicable in the
# DuckDB oracle (same hash, same ranks, same tie-breaks), so unlike a
# percentile_approx sketch the approximate path itself is
# hash-checked. Spark shape: WindowGroupLimit (per-group bottom-k) or
# TakeOrderedAndProject (global bottom-k) for the sample, windows only
# over ≤k sampled rows, then scan→broadcast-join→project for the
# assignment — no unbounded sort anywhere (pinned in
# test_plan_quality).

_DECILE_SAMPLE_K = 500  # per event_type; cut-point error ~ O(1/sqrt(k))


def _portable_id_hash(id_col: str) -> Column:
    """See util.portable_id_hash (the single shared definition)."""
    from ..util import portable_id_hash

    return portable_id_hash(id_col)


@query(
    "value_deciles_approx",
    oracle=f"""
    WITH e AS (SELECT event_type, event_id, value FROM events),
    hh AS (
      SELECT event_type, event_id, value,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM e
    ),
    samp AS (
      SELECT event_type, event_id, value FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY h, event_id) AS rn
        FROM hh
      ) WHERE rn <= {_DECILE_SAMPLE_K}
    ),
    sr AS (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS srn
      FROM samp
    ),
    sc AS (SELECT event_type, count(*) AS s FROM samp GROUP BY 1),
    cuts AS (
      SELECT sr.event_type, js.j, sr.value AS cv, sr.event_id AS cid
      FROM sc
      CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS j) js
      JOIN sr ON sr.event_type = sc.event_type
             AND sr.srn = (js.j * sc.s + 9) // 10
    ),
    assigned AS (
      SELECT e.event_type, e.value,
             CAST(round(e.value * 100) AS BIGINT) AS cents,
             1 + (SELECT count(*) FROM cuts c
                  WHERE c.event_type = e.event_type
                    AND (e.value > c.cv
                         OR (e.value = c.cv AND e.event_id > c.cid))) AS decile
      FROM e
    )
    SELECT event_type, CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS sum_value
    FROM assigned GROUP BY 1, 2
    """,
)
def value_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_deciles' at-scale twin: equi-depth decile binning from
    cut points of a deterministic bottom-k sample instead of an ntile
    sort over every row of each type.

    Why this survives 100×: the exact twin's per-type window sorts a
    type's ENTIRE row set in one task (events-per-type grows with the
    data); here the only per-row work after the sample is a broadcast
    join against ≤9 cut pairs per type and a 9-element array filter —
    scan-shaped. The sample itself is WindowGroupLimit-pruned: each
    map partition keeps ≤k rows per type before the shuffle, so the
    sample sort touches O(k · partitions), not O(rows). Cut-point
    quantile error is the classic order-statistic bound ~1.29/sqrt(k)
    (k=500 → ~6% of a decile width); the bucket RULE is exact and the
    oracle applies the identical sample, cuts, and tie-breaks."""
    e = load(spark, sf_dir, "events").select("event_type", "event_id", "value")
    ws = Window.partitionBy("event_type").orderBy("h", "event_id")
    samp = (
        e.withColumn("h", _portable_id_hash("event_id"))
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _DECILE_SAMPLE_K)
        .drop("rn", "h")
    )
    # cut j (j=1..9) = the ceil(j*s/10)-th order statistic of the
    # sample under (value, event_id) — one collect_list aggregate per
    # type (≤k elements, bounded), sorted and indexed array-side; no
    # extra window or join for the extraction.
    cut_arr = (
        samp.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("value").alias("cv"), F.col("event_id").alias("cid")))
            ).alias("a"),
            F.count("*").alias("s"),
        )
        .select(
            "event_type",
            F.transform(
                F.sequence(F.lit(1), F.lit(9)),
                lambda j: F.element_at(
                    "a",
                    F.floor((j * F.col("s") + 9) / 10).cast("int"),
                ),
            ).alias("cuts"),
        )
    )
    assigned = (
        e.join(F.broadcast(cut_arr), "event_type")
        .select(
            "event_type",
            "value",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
            (
                F.lit(1)
                + F.size(
                    F.filter(
                        F.col("cuts"),
                        lambda c: (F.col("value") > c["cv"])
                        | (
                            (F.col("value") == c["cv"])
                            & (F.col("event_id") > c["cid"])
                        ),
                    )
                )
            ).alias("decile"),
        )
    )
    return assigned.groupBy("event_type", "decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(F.sum("cents") / 100.0, 2).alias("sum_value"),
    )


@query(
    "session_paths",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, event_type, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    paths AS (
      SELECT user_id, sid,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY 1, 2
    ),
    counts AS (SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1)
    SELECT path, n_sessions, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT path, n_sessions,
             row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
      FROM counts
    )
    WHERE rank <= 10
    """,
)
def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the top-10 most common event-sequence paths per
    session (the 'view>click>purchase' journeys product analytics
    tools surface). Sessionize (lag + 30-min-gap cumulative flag, the
    same contract as `sessionization`), concatenate each session's
    ordered event types, count identical paths, rank.

    Scale: sessionize and the per-session path build share ONE
    user_id exchange (window then groupBy on its prefix); the path
    concat is a sort_array over an already-grouped list, never a
    global sort. The final ranking window is global but its input is
    path-cardinality (aggregate counts), the same bounded shape as
    the ratio-to-report queries."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = e.withColumn("sid", F.sum(is_new).over(wc))
    paths = sess.groupBy("user_id", "sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        counts.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= 10)
        .select("path", "n_sessions", "rank")
    )


@query(
    "attribution_linear",
    oracle="""
    WITH purchases AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    ),
    pairs AS (
      SELECT p.event_id, p.cents, c.c_ts
      FROM purchases p
      JOIN clicks c ON c.user_id = p.user_id
        AND c.c_ts >= p.ts - INTERVAL 30 MINUTE
        AND c.c_ts < p.ts
    ),
    weighted AS (
      SELECT c_ts,
             CAST(round(cents * 1000.0
                        / count(*) OVER (PARTITION BY event_id))
                  AS BIGINT) AS milli
      FROM pairs
    )
    SELECT CAST(hour(c_ts) AS INT) AS click_hour,
           count(*) AS n_attributions,
           round(CAST(sum(milli) AS BIGINT) / 100000.0, 4) AS attributed_value
    FROM weighted
    GROUP BY 1
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-split) attribution: every purchase's value is
    divided equally among the user's clicks in the preceding 30
    minutes, then attributed to the CLICK's hour-of-day — "which
    hours drive revenue". Companion to `click_attribution`
    (last-touch count) completing the attribution-model family.

    The pair source is the same bucketed point-in-interval equi-join
    (the oracle states the naive inequality join). Per-pair shares
    are rounded to integer MILLI-CENTS before the final sum, so the
    aggregate is an integer sum — engine summation order cannot move
    the result."""
    from ..functions import rangejoin

    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("w_end"),
        (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w_start"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    pairs = rangejoin.point_in_interval_join(
        clicks, purchases,
        point_ts="c_ts", start="w_start", end="w_end",
        keys=("user_id",), bucket_seconds=1800,
    )
    wn = Window.partitionBy("event_id")
    weighted = pairs.withColumn(
        "milli",
        F.round(F.col("cents") * 1000.0 / F.count("*").over(wn), 0).cast("bigint"),
    )
    return weighted.groupBy(
        F.hour("c_ts").cast("int").alias("click_hour")
    ).agg(
        F.count("*").alias("n_attributions"),
        F.round(F.sum("milli").cast("bigint") / 100000.0, 4).alias(
            "attributed_value"
        ),
    )


def _rfm_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (r_days, freq, m_cents) triple — shared by the exact
    and sampled RFM queries. One user-keyed aggregate + a broadcast
    1-row anchor."""
    e = load(spark, sf_dir, "events")
    anchor = e.agg(F.max("ts").alias("mx"))
    return (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("u_mx"),
            F.count("*").alias("freq"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                ).otherwise(0)
            ).cast("bigint").alias("m_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            "freq",
            "m_cents",
            F.datediff(F.col("mx"), F.col("u_mx")).alias("r_days"),
        )
    )


@query(
    "rfm_segments",
    oracle="""
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    per_user AS (
      SELECT user_id,
             date_diff('day', max(ts), (SELECT mx FROM anchor)) AS r_days,
             count(*) AS freq,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS m_cents
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, m_cents,
             ntile(5) OVER (ORDER BY r_days ASC, user_id) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
             ntile(5) OVER (ORDER BY m_cents DESC, user_id) AS m_score
      FROM per_user
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_users,
           round(CAST(sum(m_cents) AS BIGINT) / 100.0, 2) AS total_monetary
    FROM scored
    GROUP BY 1, 2, 3
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user Recency / Frequency / Monetary
    quintiles (score 1 = best: most recent, most frequent, highest
    spend) and the user count + exact spend per (R,F,M) cell — the
    classic CRM segmentation matrix.

    Scale: one user-keyed aggregate builds the per-user triple; the
    three ntile windows run over USER-cardinality aggregate output
    (not events) with deterministic user_id tie-breaks. User count
    grows with the data, so this exact form is the sf-bounded oracle
    baseline — rfm_segments_approx is the at-scale path (sampled cut
    points, no unbounded sort). Monetary sums are integer cents
    end-to-end."""
    per_user = _rfm_per_user(spark, sf_dir)
    scored = per_user.select(
        "user_id",
        "m_cents",
        F.ntile(5).over(Window.orderBy(F.asc("r_days"), F.asc("user_id"))).alias("r_score"),
        F.ntile(5).over(Window.orderBy(F.desc("freq"), F.asc("user_id"))).alias("f_score"),
        F.ntile(5).over(Window.orderBy(F.desc("m_cents"), F.asc("user_id"))).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_users"),
        F.round(F.sum("m_cents").cast("bigint") / 100.0, 2).alias(
            "total_monetary"
        ),
    )


_RFM_SAMPLE_K = 100  # global user sample; quintile cuts need far fewer


@query(
    "rfm_segments_approx",
    oracle=f"""
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    per_user AS (
      SELECT user_id,
             date_diff('day', max(ts), (SELECT mx FROM anchor)) AS r_days,
             count(*) AS freq,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS m_cents
      FROM events GROUP BY user_id
    ),
    hh AS (
      SELECT *, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM per_user
    ),
    samp AS (
      SELECT user_id, r_days, freq, m_cents FROM hh
      ORDER BY h, user_id LIMIT {_RFM_SAMPLE_K}
    ),
    sc AS (SELECT count(*) AS s FROM samp),
    js AS (SELECT unnest(generate_series(1, 4)) AS j),
    r_sr AS (SELECT r_days AS cv, user_id AS cuid,
                    row_number() OVER (ORDER BY r_days, user_id) AS srn
             FROM samp),
    r_cuts AS (SELECT j, cv, cuid FROM sc CROSS JOIN js
               JOIN r_sr ON r_sr.srn = (js.j * sc.s + 4) // 5),
    f_sr AS (SELECT freq AS cv, user_id AS cuid,
                    row_number() OVER (ORDER BY freq DESC, user_id) AS srn
             FROM samp),
    f_cuts AS (SELECT j, cv, cuid FROM sc CROSS JOIN js
               JOIN f_sr ON f_sr.srn = (js.j * sc.s + 4) // 5),
    m_sr AS (SELECT m_cents AS cv, user_id AS cuid,
                    row_number() OVER (ORDER BY m_cents DESC, user_id) AS srn
             FROM samp),
    m_cuts AS (SELECT j, cv, cuid FROM sc CROSS JOIN js
               JOIN m_sr ON m_sr.srn = (js.j * sc.s + 4) // 5),
    scored AS (
      SELECT p.user_id, p.m_cents,
        CAST(1 + (SELECT count(*) FROM r_cuts c
                  WHERE p.r_days > c.cv
                     OR (p.r_days = c.cv AND p.user_id > c.cuid)) AS INT)
          AS r_score,
        CAST(1 + (SELECT count(*) FROM f_cuts c
                  WHERE p.freq < c.cv
                     OR (p.freq = c.cv AND p.user_id > c.cuid)) AS INT)
          AS f_score,
        CAST(1 + (SELECT count(*) FROM m_cuts c
                  WHERE p.m_cents < c.cv
                     OR (p.m_cents = c.cv AND p.user_id > c.cuid)) AS INT)
          AS m_score
      FROM per_user p
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_users,
           round(CAST(sum(m_cents) AS BIGINT) / 100.0, 2) AS total_monetary
    FROM scored
    GROUP BY 1, 2, 3
    """,
)
def rfm_segments_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rfm_segments' at-scale twin: R/F/M quintile scores from cut
    points of a fixed-size deterministic user sample instead of three
    ntile windows over the full (unbounded) per-user table.

    Why this survives 100×: the exact twin funnels ALL users through a
    single-partition sort three times; here the full-cardinality side
    is scan→broadcast-join→project (three 4-element array filters per
    user), the sample is TakeOrderedAndProject (per-partition top-k,
    then k·partitions merged — never a full sort), and all three cut
    arrays come from ONE collect_list aggregate over the ≤k-row
    sample — the plan has no Window operator at all (pinned in
    test_plan_quality). Scoring: score 1 = best (most recent / most
    frequent / highest spend), deterministic user_id tie-breaks; the
    oracle applies the identical sample, cut ranks, and comparators,
    so the sampled path itself is hash-checked."""
    # materialize the per-user triple ONCE: the sample branch and the
    # scoring branch both consume it, and AQE does NOT reuse the
    # exchange across the two (verified on the executed plan — 4
    # parquet scans without this). One events scan + one user-keyed
    # shuffle total; the checkpoint is user-cardinality, tiny next to
    # the events it summarizes.
    pu = _rfm_per_user(spark, sf_dir).localCheckpoint(eager=True)
    samp = (
        pu.withColumn("h", _portable_id_hash("user_id"))
        .orderBy("h", "user_id")
        .limit(_RFM_SAMPLE_K)
        .drop("h")
    )
    # ONE collect_list aggregate over the ≤k-row sample yields all
    # three cut arrays (quintile order statistics under each metric's
    # ordering) — no windows, no joins, a single 1-row broadcast. Desc
    # orderings sort on the negated metric; cv keeps the original
    # value for the comparator.
    idx = lambda j, s: F.floor((j * s + 4) / 5).cast("int")  # noqa: E731

    def sorted_cuts(key_struct, s):
        arr = F.array_sort(F.transform("a", key_struct))
        return F.transform(F.sequence(F.lit(1), F.lit(4)), lambda j: F.element_at(arr, idx(j, s)))

    cut_arr = (
        samp.agg(
            F.collect_list(F.struct("r_days", "freq", "m_cents", "user_id")).alias("a"),
            F.count("*").alias("s"),
        )
        .select(
            sorted_cuts(
                lambda x: F.struct(
                    x["r_days"].alias("cv"), x["user_id"].alias("cuid")
                ),
                F.col("s"),
            ).alias("r_cuts"),
            sorted_cuts(
                lambda x: F.struct(
                    (-x["freq"]).alias("neg"),
                    x["user_id"].alias("cuid"),
                    x["freq"].alias("cv"),
                ),
                F.col("s"),
            ).alias("f_cuts"),
            sorted_cuts(
                lambda x: F.struct(
                    (-x["m_cents"]).alias("neg"),
                    x["user_id"].alias("cuid"),
                    x["m_cents"].alias("cv"),
                ),
                F.col("s"),
            ).alias("m_cuts"),
        )
    )

    def score(cuts_col: str, after) -> Column:
        return F.lit(1) + F.size(F.filter(F.col(cuts_col), after))

    scored = (
        pu.crossJoin(F.broadcast(cut_arr))
        .select(
            "user_id",
            "m_cents",
            score(
                "r_cuts",
                lambda c: (F.col("r_days") > c["cv"])
                | ((F.col("r_days") == c["cv"]) & (F.col("user_id") > c["cuid"])),
            ).alias("r_score"),
            score(
                "f_cuts",
                lambda c: (F.col("freq") < c["cv"])
                | ((F.col("freq") == c["cv"]) & (F.col("user_id") > c["cuid"])),
            ).alias("f_score"),
            score(
                "m_cuts",
                lambda c: (F.col("m_cents") < c["cv"])
                | ((F.col("m_cents") == c["cv"]) & (F.col("user_id") > c["cuid"])),
            ).alias("m_score"),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_users"),
        F.round(F.sum("m_cents").cast("bigint") / 100.0, 2).alias(
            "total_monetary"
        ),
    )


@query(
    "recency_weighted_user_value",
    oracle="""
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    w AS (
      SELECT user_id,
             CAST(round(
               value * 100.0
               / (1 + date_diff('day', ts, (SELECT mx FROM anchor)))
             ) AS BIGINT) AS wcents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id,
           count(*) AS n_purchases,
           round(CAST(sum(wcents) AS BIGINT) / 100.0, 2)
             AS recency_weighted_value
    FROM w GROUP BY user_id
    """,
)
def recency_weighted_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted spend per user: each purchase contributes
    value/(1 + age_days) relative to the corpus max timestamp — the
    time-decay feature behind churn/LTV models. The decay is RATIONAL
    (1/(1+days)), not exp(-λt): division of identical doubles is
    bit-deterministic across engines, where libm/JVM exp() disagree
    in the last ulp and can flip a rounded cent. Per-row weights are
    rounded to integer cents before the sum, so the aggregate is an
    order-independent integer sum.

    Scale: one broadcast 1-row anchor + one user-keyed aggregate —
    the same shape as any per-entity feature; decay needs no window."""
    all_events = load(spark, sf_dir, "events")
    e = all_events.filter(F.col("event_type") == "purchase")
    anchor = all_events.agg(F.max("ts").alias("mx"))
    w = e.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.round(
            F.col("value") * 100.0
            / (1 + F.datediff(F.col("mx"), F.col("ts"))),
            0,
        ).cast("bigint").alias("wcents"),
    )
    return w.groupBy("user_id").agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum("wcents").cast("bigint") / 100.0, 2).alias(
            "recency_weighted_value"
        ),
    )


# ---------------------------------------------------------------------------
# PageRank over the event-transition graph
# ---------------------------------------------------------------------------

_PR_D = 0.85
_PR_ITERS = 10


def _pagerank_oracle_sql() -> str:
    ctes = [
        """tr AS (
      SELECT prev AS from_type, event_type AS to_type, count(*) AS n
      FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
      ) WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT event_type FROM events),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outw AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS o FROM tr GROUP BY 1),
    ew AS (
      SELECT t.from_type, t.to_type, t.n * 1.0 / o.o AS w
      FROM tr t JOIN outw o USING (from_type)
    ),
    r0 AS (SELECT event_type, 1.0 / nn.n AS r FROM nodes, nn)"""
    ]
    for t in range(_PR_ITERS):
        ctes.append(
            f"""c{t} AS (
      SELECT e.to_type, sum(r.r * e.w) AS inc
      FROM ew e JOIN r{t} r ON e.from_type = r.event_type GROUP BY 1
    ),
    r{t + 1} AS (
      SELECT nd.event_type,
             round((1 - {_PR_D}) / nn.n
                   + {_PR_D} * coalesce(c.inc, 0), 9) AS r
      FROM nodes nd CROSS JOIN nn
      LEFT JOIN c{t} c ON nd.event_type = c.to_type
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT event_type, round(r, 6) AS rank_score,
           CAST(row_number() OVER (ORDER BY round(r, 9) DESC, event_type)
                AS INT) AS rank
    FROM r{_PR_ITERS}"""
    )


@query("transition_pagerank", oracle=_pagerank_oracle_sql())
def transition_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Brin & Page 1998, public method) over the first-order
    event-transition graph — the stationary-importance ranking of
    event types under the damped Markov chain that event_transitions
    counts (the same computation link-based corpus-quality priors run
    on web domain graphs). Dangling mass is dropped, not
    redistributed (ranking-equivalent; documented deviation).

    Portability: per-iteration ranks are rounded to 9 decimals on
    BOTH engines, so a sub-ULP difference in the (bounded, <= n_nodes
    member) incoming sums cannot accumulate across the `_PR_ITERS`
    fixed iterations; the damping base (1-d)/N is computed with the
    identical expression in both.

    Scale: node/edge tables are event-type-bounded aggregates of one
    events scan; the bounded model (<= |event_types|^2 weight rows,
    guarded at 10k types) is collected ONCE and the fixed power
    iteration runs driver-side — the corpus is never re-read and no
    per-round jobs launch (r15; the transition_shortest_paths/doremi
    bounded-state stance)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("from_type"), F.col("event_type").alias("to_type"))
        .agg(F.count("*").alias("n"))
        # r14: tr feeds outw AND the ew join — without pinning, the ew
        # checkpoint build paid the events window pass twice (guide
        # §3.3). Type-bounded rows, one execution.
        .localCheckpoint(eager=False)
    )
    nodes = sorted(
        r.event_type
        for r in bounded_collect(
            e.select("event_type").distinct(),
            DRIVER_SOLVE_LIMIT,
            "transition_pagerank: event types",
        )
    )
    outw = tr.groupBy("from_type").agg(F.sum("n").cast("long").alias("o"))
    ew = tr.join(outw, "from_type").select(
        "from_type", "to_type", (F.col("n") * 1.0 / F.col("o")).alias("w")
    )
    # r15: the power iteration runs DRIVER-SIDE over the collected
    # (type-bounded) edge-weight table. The r14 Spark loop — even
    # fully broadcast-hinted — chained 20 sequential broadcast-build
    # waves for a <= |event_types|-row state, paying the local-mode
    # stage-launch floor per wave (~2.6-3.4 s in-bench); the
    # transition_shortest_paths / doremi precedent applies: collect
    # the bounded model, iterate in exactly-replicated arithmetic
    # (9dp HALF_UP per round, identical to the oracle's unrolled
    # CTEs), emit the result. Zero per-round job launches.
    ew_rows = ew.collect()  # <= |nodes|^2 rows, nodes guarded above
    n_nodes = len(nodes)
    base = (1 - _PR_D) / n_nodes
    edges = sorted(
        ((r.to_type, r.from_type, r.w) for r in ew_rows),
        key=lambda t: (t[0], t[1]),
    )
    ranks = {v: 1.0 / n_nodes for v in nodes}
    for _ in range(_PR_ITERS):
        inc: dict[str, float] = {}
        for to_t, from_t, wgt in edges:
            inc[to_t] = inc.get(to_t, 0.0) + ranks[from_t] * wgt
        ranks = {
            v: round_half_up(base + _PR_D * inc.get(v, 0.0), 9)
            for v in nodes
        }
    out = sorted(nodes, key=lambda v: (-round_half_up(ranks[v], 9), v))
    return spark.createDataFrame(
        [
            (v, round_half_up(ranks[v], 6), i + 1)
            for i, v in enumerate(out)
        ],
        "event_type string, rank_score double, rank int",
    )


@query(
    "ab_test_welch",
    oracle="""
    WITH assign AS (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             value
      FROM events
    ),
    stats AS (
      SELECT variant, count(*) AS n,
             round(avg(value), 6) AS mean,
             round(var_samp(value), 6) AS var
      FROM assign GROUP BY variant
    ),
    wide AS (
      SELECT max(CASE WHEN variant = 'A' THEN n END) AS n_a,
             max(CASE WHEN variant = 'B' THEN n END) AS n_b,
             max(CASE WHEN variant = 'A' THEN mean END) AS mean_a,
             max(CASE WHEN variant = 'B' THEN mean END) AS mean_b,
             max(CASE WHEN variant = 'A' THEN var END) AS var_a,
             max(CASE WHEN variant = 'B' THEN var END) AS var_b
      FROM stats
    )
    SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
           round((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat,
           round(pow(var_a / n_a + var_b / n_b, 2)
                 / (pow(var_a / n_a, 2) / (n_a - 1)
                    + pow(var_b / n_b, 2) / (n_b - 1)), 4) AS df
    FROM wide
    """,
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test over a deterministic 50/50
    experiment split (public statistics; the readout every
    experimentation platform computes): users are assigned by the
    portable id hash (dataset_split's rule — stable across runs and
    engines, unlike rand()), per-variant mean/variance aggregate in
    one map-side-combinable pass, and the t statistic plus
    Welch–Satterthwaite degrees of freedom derive from the ROUNDED
    per-variant aggregates — so the scalar arithmetic is bit-identical
    in both engines even though the underlying float sums are
    order-dependent.

    Scale: one aggregation over the fact table, 2 rows out; the test
    statistic is driver-free Column arithmetic on a 1-row frame."""
    from ..util import portable_id_hash

    e = load(spark, sf_dir, "events")
    assign = e.select(
        F.when(F.pmod(portable_id_hash("user_id"), F.lit(2)) == 0, "A")
        .otherwise("B")
        .alias("variant"),
        "value",
    )
    stats = assign.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.var_samp("value"), 6).alias("var"),
    )
    wide = stats.agg(
        *[
            F.max(F.when(F.col("variant") == v, F.col(c))).alias(f"{c}_{v.lower()}")
            for c in ("n", "mean", "var")
            for v in ("A", "B")
        ]
    )
    se2 = F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    t_stat = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
    df = F.pow(se2, 2) / (
        F.pow(F.col("var_a") / F.col("n_a"), 2) / (F.col("n_a") - 1)
        + F.pow(F.col("var_b") / F.col("n_b"), 2) / (F.col("n_b") - 1)
    )
    return wide.select(
        "n_a", "n_b", "mean_a", "mean_b", "var_a", "var_b",
        F.round(t_stat, 6).alias("t_stat"),
        F.round(df, 4).alias("df"),
    )


@query(
    "join_key_skew",
    oracle="""
    WITH counts AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT avg(n) AS avg_n, count(*) AS n_keys FROM counts
    )
    SELECT c.user_id, c.n,
           round(c.n / s.avg_n, 4) AS skew_ratio,
           CAST(s.n_keys AS BIGINT) AS n_keys
    FROM counts c, stats s
    ORDER BY c.n DESC, c.user_id
    LIMIT 10
    """,
)
def join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report: the 10 heaviest join/aggregation keys
    with their multiple of the mean group size — the diagnostic that
    decides between a plain shuffle, functions/skew.py's salted_join,
    and AQE skew splitting. Per-key counts are one map-side-combined
    aggregate; the mean folds in via a 1-row broadcast; the top-10 is
    a TakeOrderedAndProject (per-partition heads, never a global
    sort)."""
    e = load(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count("*").alias("n"))
    stats = counts.agg(
        F.avg("n").alias("avg_n"), F.count("*").cast("long").alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n",
            F.round(F.col("n") / F.col("avg_n"), 4).alias("skew_ratio"),
            "n_keys",
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
    )


@query(
    "sliding_7d_active_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    contrib AS (
      SELECT user_id, d + CAST(o.o AS INTEGER) AS wd
      FROM ud CROSS JOIN (SELECT unnest(range(7)) AS o) o
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS wd FROM events)
    SELECT strftime(c.wd, '%Y-%m-%d') AS window_end,
           count(DISTINCT c.user_id) AS active_users_7d
    FROM contrib c JOIN days USING (wd)
    GROUP BY c.wd
    """,
)
def sliding_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day EXACT distinct actives per day (rolling
    WAU/MAU): SQL window frames cannot take COUNT(DISTINCT), so the
    scalable formulation is contribution explode — each (user, day)
    fact contributes to the 7 window-end days it falls inside, then
    one distinct-aggregate per window end. Restricted to window ends
    that are observed activity days (matching what a calendar-spine
    join would produce on a dense stream).

    Scale: dedup to (user, day) first (the explode multiplies the
    DAY-grain table, not raw events), a 7x explode, then a two-phase
    distinct agg keyed by day — everything map-side combinable,
    no window over user-unbounded partitions, no self-join of the
    event stream against a date range (the O(days^2) naive form)."""
    e = load(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("wd"),
    )
    days = e.select(F.to_date("ts").alias("wd")).distinct()
    return (
        contrib.join(days, "wd")
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
        .select(
            F.date_format("wd", "yyyy-MM-dd").alias("window_end"),
            "active_users_7d",
        )
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH v1 AS (SELECT doc_id, text FROM documents),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
                  THEN substring(text, 1,
                         cast(floor(length(text) * 0.5) as int))
                  ELSE text END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 5000000 AS doc_id, text
      FROM documents WHERE doc_id % 13 = 0
    )
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                ELSE 'modified' END AS change
    FROM v1 a FULL OUTER JOIN v2 b USING (doc_id)
    WHERE a.doc_id IS NULL OR b.doc_id IS NULL
       OR md5(a.text) <> md5(b.text)
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff (the snapshot-audit op behind every
    'what changed between corpus v1 and v2' question, and the manual
    analog of a lakehouse CHANGE DATA FEED): full outer join of two
    snapshots on the key, rows classified added / removed / modified
    by content hash; unchanged rows are filtered out so the result is
    the changeset. v2 is a deterministic perturbation of the
    documents table (every 17th doc dropped, every 10th truncated to
    half, every 13th re-appended under a new id) so all three change
    classes are exercised and the oracle sees the identical pair.

    Scale: one key-partitioned full outer join — both sides shuffle
    once on the key; the content comparison is a hash equality, so
    wide rows never carry past the join. At lakehouse scale, swap v2
    for the next snapshot's scan; the plan is unchanged."""
    v1 = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = load(spark, sf_dir, "documents")
    v2 = (
        base.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 == 0,
                F.expr(
                    "substring(text, 1, cast(floor(length(text) * 0.5) as int))"
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            base.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
            )
        )
    )
    a = v1.select("doc_id", F.md5("text").alias("h1"))
    b = v2.select("doc_id", F.md5("text").alias("h2"))
    return (
        a.join(b, "doc_id", "full_outer")
        .filter(
            F.col("h1").isNull()
            | F.col("h2").isNull()
            | (F.col("h1") != F.col("h2"))
        )
        .select(
            "doc_id",
            F.when(F.col("h1").isNull(), "added")
            .when(F.col("h2").isNull(), "removed")
            .otherwise("modified")
            .alias("change"),
        )
    )


@query(
    "transition_entropy",
    oracle="""
    WITH tr AS (
      SELECT prev AS from_type, event_type AS to_type, count(*) AS n
      FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
      ) WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    outw AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS n_out,
             count(*) AS n_successors
      FROM tr GROUP BY 1
    )
    SELECT t.from_type AS state,
           max(o.n_out) AS n_out,
           CAST(max(o.n_successors) AS BIGINT) AS n_successors,
           round(-sum((t.n * 1.0 / o.n_out) * ln(t.n * 1.0 / o.n_out)), 6)
             AS entropy_nats,
           round(CASE WHEN max(o.n_successors) <= 1 THEN 0.0
                      ELSE -sum((t.n * 1.0 / o.n_out)
                                * ln(t.n * 1.0 / o.n_out))
                           / ln(max(o.n_successors) * 1.0) END, 6)
             AS normalized_entropy
    FROM tr t JOIN outw o USING (from_type)
    GROUP BY t.from_type
    """,
)
def transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream PREDICTABILITY per state: Shannon entropy of each
    event type's next-step distribution (Markov conditional entropy —
    Shannon 1948, public method), plus the [0,1] normalization by
    ln(successor count). Low entropy = deterministic funnels (the
    next step is known); high = exploratory branching. The behavioral
    complement to transition_pagerank's importance ranking, over the
    SAME transition table.

    Plan: one user-partitioned lag window (high-cardinality key, no
    single-partition sort) -> two-phase count on (from, to) —
    bounded by |types|^2 — -> per-state entropy reduce over that tiny
    table. ln() rounds at 6dp for cross-engine parity (the PSI/logit
    convention)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.select(
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outw = tr.groupBy("from_type").agg(
        F.sum("n").alias("n_out"), F.count(F.lit(1)).alias("n_successors")
    )
    p = F.col("n") / F.col("n_out")
    joined = tr.join(outw, "from_type")
    ent = -F.sum(p * F.log(p))
    return (
        joined.groupBy(F.col("from_type").alias("state"))
        .agg(
            F.max("n_out").alias("n_out"),
            F.max("n_successors").alias("n_successors"),
            F.round(ent, 6).alias("entropy_nats"),
            F.round(
                F.when(F.max("n_successors") <= 1, F.lit(0.0)).otherwise(
                    ent / F.log(F.max("n_successors").cast("double"))
                ),
                6,
            ).alias("normalized_entropy"),
        )
    )


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS ts0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id,
             epoch(min(e.ts)) - epoch(max(s.ts0)) AS lag_secs
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.ts0
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s) AS n_signup_users,
           count(*) AS n_converted,
           round(count(*) * 1.0 / (SELECT count(*) FROM s), 6)
             AS conversion_rate,
           round(quantile_cont(lag_secs, 0.5), 2) AS median_secs,
           round(quantile_cont(lag_secs, 0.9), 2) AS p90_secs
    FROM p
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-to-convert through the signup->purchase funnel (the
    latency half of funnel analytics — window_funnel counts depth,
    this measures how long conversion takes): first signup per user,
    first STRICTLY LATER purchase, then the conversion rate and
    exact interpolated median/p90 lag.

    Plan: two filtered pre-aggregations keyed by user (map-side
    combinable), one equi-join on user_id with the range predicate as
    a join residual, then a 1-row summary (exact percentile — swap to
    approx_percentile at 100 TB, the value_percentiles convention).
    Epoch arithmetic (unix_micros) keeps the lag TZ-independent."""
    e = load(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts0"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("ts0"))
        .groupBy("user_id")
        .agg(
            (
                (F.unix_micros(F.min("ts")) - F.unix_micros(F.max("ts0")))
                / F.lit(1_000_000.0)
            ).alias("lag_secs")
        )
    )
    n_signup = s.agg(F.count(F.lit(1)).alias("n_signup_users"))
    return (
        p.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.percentile("lag_secs", F.lit(0.5)), 2).alias("median_secs"),
            F.round(F.percentile("lag_secs", F.lit(0.9)), 2).alias("p90_secs"),
        )
        .crossJoin(n_signup)
        .select(
            "n_signup_users",
            "n_converted",
            F.round(
                F.col("n_converted") / F.col("n_signup_users"), 6
            ).alias("conversion_rate"),
            "median_secs",
            "p90_secs",
        )
    )


@query(
    "hourly_anomaly_flags",
    oracle="""
    WITH cells AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
             CAST(hour(ts) AS INT) AS hr, count(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT event_type, hr,
             avg(n * 1.0) AS mu, stddev_pop(n * 1.0) AS sigma
      FROM cells GROUP BY 1, 2
    )
    SELECT c.event_type, c.d, c.hr, c.n,
           round(mu, 4) AS baseline_mean,
           round((c.n - mu) / sigma, 4) AS z
    FROM cells c JOIN base b
      ON c.event_type = b.event_type AND c.hr = b.hr
    WHERE sigma > 0 AND (c.n - mu) / sigma >= 2.5
    """,
)
def hourly_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection on aggregates: each
    (type, date, hour) traffic cell is scored against ITS OWN
    hour-of-day baseline (mean/stddev across days — the simplest
    seasonal profile), and cells spiking >= 2.5 population z are
    flagged. The aggregate-level complement to the row-level
    dq_assertions: a feed can pass every row contract while an hour's
    volume triples. Cells absent entirely (count 0) are not scored —
    the dashboard treats missing-hour alerts as a freshness check,
    not a z-score (documented scope).

    Plan: one scan -> two-phase count on the bounded (type, day,
    hour) key -> baseline agg on (type, hour) [<= types x 24 rows,
    broadcast] -> flag filter on the unrounded z (rounding only in
    the projection, the jaccard convention)."""
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    base = cells.groupBy("event_type", "hr").agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        cells.join(F.broadcast(base), ["event_type", "hr"])
        .filter((F.col("sigma") > 0) & (z >= 2.5))
        .select(
            "event_type", "d", "hr", "n",
            F.round("mu", 4).alias("baseline_mean"),
            F.round(z, 4).alias("z"),
        )
    )


@query(
    "event_association_rules",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS d, event_type
      FROM events
    ),
    nb AS (
      SELECT CAST(count(DISTINCT (user_id, d)) AS BIGINT) AS n_baskets
      FROM baskets
    ),
    item AS (
      SELECT event_type, count(*) AS n FROM baskets GROUP BY event_type
    ),
    pair AS (
      SELECT a.event_type AS lhs, b.event_type AS rhs, count(*) AS n
      FROM baskets a
      JOIN baskets b ON a.user_id = b.user_id AND a.d = b.d
                     AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.lhs, p.rhs, p.n AS n_baskets_both,
           round(p.n * 1.0 / nb.n_baskets, 6) AS support,
           round(p.n * 1.0 / la.n, 6) AS confidence,
           round((p.n * 1.0 / la.n) / (lb.n * 1.0 / nb.n_baskets), 6)
             AS lift
    FROM pair p
    CROSS JOIN nb
    JOIN item la ON la.event_type = p.lhs
    JOIN item lb ON lb.event_type = p.rhs
    """,
)
def event_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset association rules (Agrawal & Srikant 1994,
    public method) over user-day baskets of event types: for each
    type pair, support (share of baskets with both), confidence
    (P(rhs | lhs basket)), and lift (association strength vs
    independence) — the market-basket surface behind 'users who X
    also Y' and feature co-occurrence audits.

    Plan: distinct (user, day, type) baskets (one shuffle), pair
    counts via a (user, day)-keyed self-join — fan-out bounded by
    types-per-basket, which is capped by the TYPE DOMAIN, not by
    events; the item/pair tables are |types| and |types|^2 rows, so
    the rule assembly is driver-trivial at any event volume. With an
    unbounded item domain (e.g. SKUs) the same plan takes a
    min-support pre-filter on `item` before the self-join — the
    classic Apriori pruning step."""
    e = load(spark, sf_dir, "events")
    # r14: baskets feeds the basket count, the item table and BOTH
    # pair-join sides — unpinned, the events scan + distinct shuffle
    # ran 4x per action (10 scans). Narrow keyed rows, one execution
    # (guide §3.3); item (type-bounded) likewise feeds both rule sides.
    baskets = e.select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("d"), "event_type"
    ).distinct().localCheckpoint(eager=False)
    nb = baskets.select("user_id", "d").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    item = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)
    a = baskets.select("user_id", "d", F.col("event_type").alias("lhs"))
    b = baskets.select("user_id", "d", F.col("event_type").alias("rhs"))
    pair = (
        a.join(b, ["user_id", "d"])
        .filter(F.col("lhs") < F.col("rhs"))
        .groupBy("lhs", "rhs")
        .agg(F.count(F.lit(1)).alias("n_baskets_both"))
    )
    la = item.select(F.col("event_type").alias("lhs"), F.col("n").alias("n_lhs"))
    lb = item.select(F.col("event_type").alias("rhs"), F.col("n").alias("n_rhs"))
    conf = F.col("n_baskets_both") / F.col("n_lhs")
    return (
        pair.join(F.broadcast(la), "lhs")
        .join(F.broadcast(lb), "rhs")
        .crossJoin(F.broadcast(nb))
        .select(
            "lhs", "rhs", "n_baskets_both",
            F.round(F.col("n_baskets_both") / F.col("n_baskets"), 6).alias(
                "support"
            ),
            F.round(conf, 6).alias("confidence"),
            F.round(
                conf / (F.col("n_rhs") / F.col("n_baskets")), 6
            ).alias("lift"),
        )
    )


@query(
    "stratified_sample_events",
    oracle="""
    WITH policy AS (
      SELECT * FROM (VALUES
        ('view',     250000),
        ('click',    250000),
        ('error',    100000),
        ('purchase', 1000000),
        ('signup',   1000000)
      ) AS t(event_type, thresh)
    )
    SELECT e.event_id, e.event_type
    FROM events e
    JOIN policy p USING (event_type)
    WHERE (('0x' || substr(md5(CAST(e.event_id AS VARCHAR)), 1, 8))::BIGINT
           % 1000000) < p.thresh
    """,
)
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling — rebalance the event
    stream for training by keeping 25% of high-volume noise strata
    (view, click), 10% of error, and all conversion strata (purchase,
    signup). The semantics of `DataFrame.sampleBy`, but the keep
    decision is `portable_id_hash(event_id) % 1e6 < thresh` instead of
    Bernoulli rand(): task retries and speculative re-execution
    reproduce the same sample (rand() re-draws can drop/duplicate rows
    on a lost task), re-runs are identical across cluster layouts, and
    the sample is oracle-checkable row-for-row.

    Plan: broadcast of the literal per-stratum policy onto one events
    scan — no shuffle, no per-stratum pass; scales as a pure filter."""
    e = load(spark, sf_dir, "events")
    policy = spark.createDataFrame(
        [
            ("view", 250000),
            ("click", 250000),
            ("error", 100000),
            ("purchase", 1000000),
            ("signup", 1000000),
        ],
        "event_type string, thresh long",
    )
    keep = F.pmod(_portable_id_hash("event_id"), F.lit(1000000)) < F.col(
        "thresh"
    )
    return (
        e.join(F.broadcast(policy), "event_type")
        .filter(keep)
        .select("event_id", "event_type")
    )


@query(
    "ab_test_cuped",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, value FROM events
    ),
    bounds AS (SELECT min(us) AS min_us, max(us) AS max_us FROM e),
    per_user AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             round(sum(CASE WHEN us < (min_us + max_us) // 2
                            THEN value ELSE 0 END), 6) AS pre_val,
             round(sum(CASE WHEN us >= (min_us + max_us) // 2
                            THEN value ELSE 0 END), 6) AS post_val
      FROM e CROSS JOIN bounds
      GROUP BY user_id, min_us, max_us
    ),
    v AS (
      SELECT variant, CAST(count(*) AS DOUBLE) AS n,
             round(sum(pre_val), 4) AS s_pre,
             round(sum(post_val), 4) AS s_post,
             round(sum(pre_val * pre_val), 4) AS s_prepre,
             round(sum(post_val * post_val), 4) AS s_postpost,
             round(sum(pre_val * post_val), 4) AS s_prepost
      FROM per_user GROUP BY variant
    ),
    g AS (
      SELECT sum(n) AS n,
             round(sum(s_pre), 4) AS s_pre,
             round(sum(s_prepre), 4) AS s_prepre,
             round(sum(s_prepost), 4) AS s_prepost,
             round(sum(s_post), 4) AS s_post
      FROM v
    ),
    theta_t AS (
      SELECT round((s_prepost - s_pre * s_post / n)
                   / (s_prepre - s_pre * s_pre / n), 6) AS theta,
             round(s_pre / n, 6) AS mean_pre_g
      FROM g
    )
    SELECT variant,
           CAST(n AS BIGINT) AS n_users,
           round(s_post / n, 6) AS mean_post,
           round(s_post / n - theta * (s_pre / n - mean_pre_g), 6)
             AS mean_adjusted,
           round((s_postpost - s_post * s_post / n) / (n - 1), 4)
             AS var_post,
           round(((s_postpost - s_post * s_post / n)
                  - 2 * theta * (s_prepost - s_pre * s_post / n)
                  + theta * theta * (s_prepre - s_pre * s_pre / n))
                 / (n - 1), 4) AS var_adjusted
    FROM v CROSS JOIN theta_t
    """,
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    Walker, WSDM 2013 — public method): each user's metric over the
    experiment's second half is adjusted by their own first-half
    (pre-period) metric, post_adj = post - theta * (pre - mean(pre))
    with theta = cov(pre, post) / var(pre), shrinking variance by the
    squared pre/post correlation without biasing the mean — the
    standard way experimentation platforms reach significance on a
    fraction of the traffic. Variant assignment reuses ab_test_welch's
    deterministic portable-hash split.

    Everything derives from ROUNDED sufficient statistics (per-user
    sums -> rounded global and per-variant moments -> scalar algebra),
    the ab_test_welch trick that makes order-dependent float sums
    engine-identical; var(adjusted) expands algebraically as
    var(post) - 2*theta*cov + theta^2*var(pre), so no second pass over
    adjusted rows is needed. Scale: one shuffle on user_id, then
    2-row-frame arithmetic; pre/post split point is a broadcast
    scalar from a map-side min/max agg."""
    from ..util import portable_id_hash

    e = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    )
    bounds = e.agg(
        F.min("us").alias("min_us"), F.max("us").alias("max_us")
    )
    mid = F.expr("(min_us + max_us) div 2")
    per_user = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            "user_id",
            F.when(F.pmod(portable_id_hash("user_id"), F.lit(2)) == 0, "A")
            .otherwise("B")
            .alias("variant"),
        )
        .agg(
            F.round(
                F.sum(F.when(F.col("us") < mid, F.col("value")).otherwise(0.0)),
                6,
            ).alias("pre_val"),
            F.round(
                F.sum(
                    F.when(F.col("us") >= mid, F.col("value")).otherwise(0.0)
                ),
                6,
            ).alias("post_val"),
        )
    )
    # per-variant moments are the ONLY pass over per_user; the global
    # moments reduce the 2-row variant frame (no second aggregation of
    # the user table, no persist — a lingering persist would pin
    # executor memory for the session and let the CacheManager
    # substitute cached reads into later bench passes)
    v = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("pre_val"), 4).alias("s_pre"),
        F.round(F.sum("post_val"), 4).alias("s_post"),
        F.round(F.sum(F.col("pre_val") * F.col("pre_val")), 4).alias(
            "s_prepre"
        ),
        F.round(F.sum(F.col("post_val") * F.col("post_val")), 4).alias(
            "s_postpost"
        ),
        F.round(F.sum(F.col("pre_val") * F.col("post_val")), 4).alias(
            "s_prepost"
        ),
    ).localCheckpoint(eager=False)
    # ^ r14: v (2 rows) feeds the global moments AND the output frame —
    # unpinned, the per-user events pass ran twice (8 scans). One
    # execution (guide §3.3); unlike the persist the comment below
    # warns about, the checkpoint is per-action and never substitutes
    # into later bench passes.
    g = v.agg(
        F.sum("n").alias("n"),
        F.round(F.sum("s_pre"), 4).alias("s_pre"),
        F.round(F.sum("s_prepre"), 4).alias("s_prepre"),
        F.round(F.sum("s_prepost"), 4).alias("s_prepost"),
        F.round(F.sum("s_post"), 4).alias("s_post"),
    )
    theta_t = g.select(
        F.round(
            (F.col("s_prepost") - F.col("s_pre") * F.col("s_post") / F.col("n"))
            / (
                F.col("s_prepre")
                - F.col("s_pre") * F.col("s_pre") / F.col("n")
            ),
            6,
        ).alias("theta"),
        F.round(F.col("s_pre") / F.col("n"), 6).alias("mean_pre_g"),
    )
    css_post = F.col("s_postpost") - F.col("s_post") * F.col("s_post") / F.col("n")
    css_pre = F.col("s_prepre") - F.col("s_pre") * F.col("s_pre") / F.col("n")
    ccs = F.col("s_prepost") - F.col("s_pre") * F.col("s_post") / F.col("n")
    return v.crossJoin(F.broadcast(theta_t)).select(
        "variant",
        F.col("n").cast("bigint").alias("n_users"),
        F.round(F.col("s_post") / F.col("n"), 6).alias("mean_post"),
        F.round(
            F.col("s_post") / F.col("n")
            - F.col("theta") * (F.col("s_pre") / F.col("n") - F.col("mean_pre_g")),
            6,
        ).alias("mean_adjusted"),
        F.round(css_post / (F.col("n") - 1), 4).alias("var_post"),
        F.round(
            (
                css_post
                - 2 * F.col("theta") * ccs
                + F.col("theta") * F.col("theta") * css_pre
            )
            / (F.col("n") - 1),
            4,
        ).alias("var_adjusted"),
    )


@query(
    "daily_value_ewma",
    oracle="""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, round(sum(value), 4) AS v
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT d, v, row_number() OVER (ORDER BY d) AS i FROM daily
    ),
    wt AS (
      SELECT i - 1 AS k,
             CASE WHEN i - 1 = 0 THEN 1.0::DOUBLE
                  ELSE list_reduce(list_transform(range(i - 1),
                         x -> 0.7::DOUBLE), (a, b) -> a * b) END AS wk
      FROM idx
    ),
    sm AS (
      SELECT t.d, t.v,
             sum(s.v * CASE WHEN s.i = 1 THEN wt.wk
                            ELSE 0.3::DOUBLE * wt.wk END) AS ewma
      FROM idx t
      JOIN idx s ON s.i <= t.i
      JOIN wt ON wt.k = CASE WHEN s.i = 1 THEN t.i - 1 ELSE t.i - s.i END
      GROUP BY t.d, t.v
    )
    SELECT d, v AS actual, round(ewma, 6) AS ewma,
           round(v - round(ewma, 6), 6) AS residual
    FROM sm
    """,
)
def daily_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing (EWMA, alpha = 0.3) of the daily value
    series — the classic forecasting/denoising primitive behind
    control charts and trend monitors. The recurrence
    s_d = a*v_d + (1-a)*s_{d-1} is unrolled to its closed form
    (weight a*(1-a)^(d-i), first term (1-a)^(d-1)) over a triangular
    self-join of the DAY-level aggregate, which is CALENDAR-BOUNDED:
    a decade of data is ~3.7k rows -> ~7M weighted pairs, driver
    trivia at any event volume, while the only event-scale work is
    the one map-side-combinable day rollup.

    Cross-engine float discipline: (1-a)^k is NOT computed with
    pow() (libm last-ulp differences) but by LEFT-FOLD repeated
    multiplication — F.aggregate over a sequence here,
    list_reduce in the oracle — which is bit-identical IEEE
    arithmetic in both engines. Each power is folded ONCE in a
    distinct-k weight table joined onto the pairs (folding inline
    per pair would redo O(n) multiplies on O(n^2) rows — O(n^3)
    work and a transient array per row at decade horizons); day
    sums are rounded before weighting, and the residual derives
    from the already-ROUNDED ewma so it is a 6dp grid point with
    no round-half ambiguity (a dyadic alpha like 0.5 lands sums
    exactly on .5 rounding boundaries, where Spark HALF_UP and
    DuckDB diverge)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("v")
    )
    # global row_number over the bounded day table (calendar-bounded,
    # same argument as vocab_induction's Zipf bound)
    idx = daily.withColumn(
        "i", F.row_number().over(Window.orderBy("d"))
    )
    # one fold per distinct lag k (n rows, O(n^2) multiplies total),
    # bit-identical to the oracle's list_reduce (1.0*0.7 == 0.7
    # exactly, so the two folds share every intermediate)
    wt = idx.select(
        (F.col("i") - 1).alias("k"),
        F.when(F.col("i") - 1 == 0, F.lit(1.0))
        .otherwise(
            F.aggregate(
                F.sequence(F.lit(1), F.col("i") - 1),
                F.lit(1.0),
                lambda acc, _: acc * F.lit(0.7),
            )
        )
        .alias("wk"),
    )
    t = idx.select(F.col("d"), F.col("v"), F.col("i").alias("ti"))
    s = idx.select(F.col("v").alias("sv"), F.col("i").alias("si"))
    k = F.when(F.col("si") == 1, F.col("ti") - 1).otherwise(
        F.col("ti") - F.col("si")
    )
    w = F.when(F.col("si") == 1, F.col("wk")).otherwise(
        F.lit(0.3) * F.col("wk")
    )
    ewma_r = F.round("ewma", 6)
    return (
        t.join(s, F.col("si") <= F.col("ti"))
        .withColumn("k", k)
        .join(F.broadcast(wt), "k")
        .groupBy("d", "v")
        .agg(F.sum(F.col("sv") * w).alias("ewma"))
        .select(
            "d",
            F.col("v").alias("actual"),
            ewma_r.alias("ewma"),
            F.round(F.col("v") - ewma_r, 6).alias("residual"),
        )
    )


@query(
    "daily_value_cusum",
    oracle="""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, round(sum(value), 4) AS v
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT round(avg(v), 4) AS mu, round(stddev_samp(v), 4) AS sigma
      FROM daily
    ),
    pref AS (
      SELECT d, v,
             sum(v - mu - 0.5 * sigma) OVER w AS p_pos,
             sum(mu - 0.5 * sigma - v) OVER w AS p_neg,
             4 * sigma AS h
      FROM daily CROSS JOIN stats
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    cus AS (
      SELECT d, v, h,
             p_pos - least(0, min(p_pos) OVER w) AS c_pos,
             p_neg - least(0, min(p_neg) OVER w) AS c_neg
      FROM pref
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    )
    SELECT d, v AS actual,
           round(c_pos, 6) AS cusum_pos,
           round(c_neg, 6) AS cusum_neg,
           CAST(c_pos > h OR c_neg > h AS INT) AS shift_flag
    FROM cus
    """,
)
def daily_value_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection (Page 1954, public method) on the
    daily value series: one-sided cumulative sums
    S_d = max(0, S_{d-1} + (v_d - mu -+ k)) with slack k = 0.5*sigma,
    flagged when either side crosses h = 4*sigma — the sequential
    mean-shift detector control charts use, complementing
    hourly_anomaly_flags' pointwise z-test with drift sensitivity.

    The max-recurrence is NOT prefix-decomposable directly, but the
    classic identity S_d = P_d - min(0, min_{j<=d} P_j) (P = plain
    prefix sum of the slack-adjusted residuals) turns it into TWO
    cumulative windows over the calendar-bounded day table — no
    triangular join, no iteration. Both engines add the same rounded
    residuals in the same window order, so the float sequences are
    bit-identical; mu/sigma come rounded from the day table (the
    rounded-sufficient-statistics rule)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("v")
    )
    stats = daily.agg(
        F.round(F.avg("v"), 4).alias("mu"),
        F.round(F.stddev_samp("v"), 4).alias("sigma"),
    )
    # cumulative windows over the bounded day table (calendar-bounded,
    # same argument as daily_value_ewma)
    w = (
        Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pref = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn(
            "p_pos",
            F.sum(
                F.col("v") - F.col("mu") - 0.5 * F.col("sigma")
            ).over(w),
        )
        .withColumn(
            "p_neg",
            F.sum(
                F.col("mu") - 0.5 * F.col("sigma") - F.col("v")
            ).over(w),
        )
        .withColumn("h", 4 * F.col("sigma"))
    )
    cus = pref.select(
        "d",
        "v",
        "h",
        (F.col("p_pos") - F.least(F.lit(0.0), F.min("p_pos").over(w))).alias(
            "c_pos"
        ),
        (F.col("p_neg") - F.least(F.lit(0.0), F.min("p_neg").over(w))).alias(
            "c_neg"
        ),
    )
    return cus.select(
        "d",
        F.col("v").alias("actual"),
        F.round("c_pos", 6).alias("cusum_pos"),
        F.round("c_neg", 6).alias("cusum_neg"),
        ((F.col("c_pos") > F.col("h")) | (F.col("c_neg") > F.col("h")))
        .cast("int")
        .alias("shift_flag"),
    )


@query(
    "daily_trend_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, round(sum(value), 4) AS v
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT d, v, row_number() OVER (ORDER BY d) AS i FROM daily
    ),
    pairs AS (
      SELECT sign(b.v - a.v) AS sgn,
             (b.v - a.v) / (b.d::DATE - a.d::DATE) AS slope
      FROM idx a JOIN idx b ON b.i > a.i
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
    ties AS (
      SELECT CAST(COALESCE(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT count(*) AS t FROM idx GROUP BY v HAVING count(*) > 1)
    ),
    agg AS (
      SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
             round(quantile_cont(slope, 0.5), 6) AS theil_sen_slope
      FROM pairs
    )
    SELECT n AS n_days, s_stat,
           CAST((n * (n - 1) * (2 * n + 5) - tie_term) / 18.0 AS DOUBLE)
             AS var_s,
           round((s_stat - sign(s_stat))
                 / sqrt((n * (n - 1) * (2 * n + 5) - tie_term) / 18.0), 6)
             AS z,
           theil_sen_slope
    FROM agg CROSS JOIN nn CROSS JOIN ties
    """,
)
def daily_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust monotonic-trend readout on the daily value series:
    Mann-Kendall S statistic with tie-corrected variance and
    continuity-corrected z (the non-parametric 'is there a trend'
    test), plus the Theil-Sen slope (median of pairwise slopes — the
    robust trend magnitude a single outlier day cannot move). Both
    are public classical methods (Mann 1945 / Kendall; Theil 1950 /
    Sen 1968).

    All pairwise work runs on the CALENDAR-BOUNDED day table
    (triangular day x day join, like daily_value_ewma); S and the
    tie term are exact integers, so only the slope median and the
    final z involve floats — slopes are value-change per CALENDAR day
    ((b.v - a.v)/datediff, robust to gap days) computed by identical
    expressions in both engines, and the median
    interpolation rule (average of the two middle values) matches
    percentile()/quantile_cont()."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("v")
    )
    # r14: idx (calendar-bounded) feeds both pair-join sides, the day
    # count and the tie table — unpinned, the events daily aggregate
    # ran 4x per action (8 scans). One execution (guide §3.3).
    idx = daily.withColumn(
        "i", F.row_number().over(Window.orderBy("d"))
    ).localCheckpoint(eager=False)
    a = idx.select(
        F.col("v").alias("av"), F.col("i").alias("ai"), F.col("d").alias("ad")
    )
    b = idx.select(
        F.col("v").alias("bv"), F.col("i").alias("bi"), F.col("d").alias("bd")
    )
    # slope per CALENDAR day (datediff), not per observed row — a gap
    # day (ingestion outage, sparse slice) must not inflate the trend
    pairs = a.join(b, F.col("bi") > F.col("ai")).select(
        F.signum(F.col("bv") - F.col("av")).alias("sgn"),
        (
            (F.col("bv") - F.col("av"))
            / F.datediff(F.to_date("bd"), F.to_date("ad"))
        ).alias("slope"),
    )
    nn = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ties = (
        idx.groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    agg = pairs.agg(
        F.sum("sgn").cast("bigint").alias("s_stat"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias(
            "theil_sen_slope"
        ),
    )
    var_s = (
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_term")
        )
        / 18.0
    ).cast("double")
    return (
        agg.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").alias("n_days"),
            "s_stat",
            var_s.alias("var_s"),
            F.round(
                (F.col("s_stat") - F.signum(F.col("s_stat"))) / F.sqrt(var_s),
                6,
            ).alias("z"),
            "theil_sen_slope",
        )
    )


@query(
    "user_bot_scores",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS gap_us
      FROM events
    ),
    mom AS (
      SELECT user_id,
             CAST(count(gap_us) AS BIGINT) AS n_gaps,
             CAST(sum(gap_us) AS BIGINT) AS s1,
             sum(gap_us::HUGEINT * gap_us::HUGEINT) AS s2
      FROM gaps WHERE gap_us IS NOT NULL
      GROUP BY user_id HAVING count(gap_us) >= 5
    )
    SELECT user_id, n_gaps,
           round(s1 / 1000000.0 / n_gaps, 4) AS mean_gap_s,
           round(sqrt(greatest(
                   (s2 / n_gaps::DOUBLE) - (s1 / n_gaps::DOUBLE) ** 2,
                   0.0))
                 / 1000000.0, 4) AS std_gap_s,
           CAST(
             sqrt(greatest((s2 / n_gaps::DOUBLE)
                           - (s1 / n_gaps::DOUBLE) ** 2, 0.0))
             < 0.05 * (s1 / n_gaps::DOUBLE) AS INT) AS bot_flag
    FROM mom
    """,
)
def user_bot_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation/bot screening from inter-arrival regularity: humans
    produce bursty, high-variance gaps between events; scripted
    clients tick on a near-constant period. Per user (with >= 5
    gaps): gap count, mean and population-σ of the inter-event gap,
    and a flag when the coefficient of variation σ/μ < 0.05 — the
    metronome signature. The behavioral complement to
    hourly_anomaly_flags (volume spikes) and dq_assertions (schema).

    Scale: one user-keyed shuffle for the lag window, then a
    map-side-combinable moment aggregate; INTEGER microsecond moments
    (sum, sum-of-squares) make the engines bit-identical before the
    final scalar algebra — no float sums cross the wire. lag orders
    by (ts, event_id) so concurrent same-microsecond events have a
    deterministic order in both engines."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = e.withColumn("gap_us", F.col("us") - F.lag("us").over(w)).filter(
        F.col("gap_us").isNotNull()
    )
    mom = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_us").cast("bigint").alias("n_gaps"),
            F.sum("gap_us").cast("bigint").alias("s1"),
            F.sum(
                F.col("gap_us").cast("decimal(38,0)")
                * F.col("gap_us").cast("decimal(38,0)")
            ).alias("s2"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    n = F.col("n_gaps").cast("double")
    mean_us = F.col("s1").cast("double") / n
    var_us = F.greatest(
        F.col("s2").cast("double") / n - mean_us * mean_us, F.lit(0.0)
    )
    std_us = F.sqrt(var_us)
    return mom.select(
        "user_id",
        "n_gaps",
        F.round(F.col("s1") / 1000000.0 / n, 4).alias("mean_gap_s"),
        F.round(std_us / 1000000.0, 4).alias("std_gap_s"),
        (std_us < 0.05 * mean_us).cast("int").alias("bot_flag"),
    )


@query(
    "user_feature_snapshot",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
      FROM events
    ),
    gmax AS (SELECT max(us) AS g FROM e),
    flagged AS (
      SELECT user_id, event_type, value, us,
             CASE WHEN us - lag(us) OVER (
                    PARTITION BY user_id ORDER BY us, event_id)
                  IS DISTINCT FROM NULL
                  AND us - lag(us) OVER (
                    PARTITION BY user_id ORDER BY us, event_id)
                      <= 1800000000
             THEN 0 ELSE 1 END AS new_session
      FROM e
    ),
    per_type AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 4) AS val,
             CAST(sum(new_session) AS BIGINT) AS sess,
             max(us) AS last_us
      FROM flagged GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_events,
           round(sum(val), 4) AS total_value,
           CAST(sum(sess) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_types,
           round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS type_entropy,
           round((max(g) - max(last_us)) / 3600000000.0, 4)
             AS recency_hours
    FROM per_type CROSS JOIN gmax
    GROUP BY user_id
    """,
)
def user_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature-store snapshot — the fused feature-extraction
    pass a propensity/churn model trains on: event count, total value
    (monetary), session count (30-min inactivity breaks), behavioral
    breadth (distinct types + Shannon type entropy), and recency
    hours vs the corpus watermark. One query instead of five: every
    stage (lag window -> (user, type) partial -> user rollup) is
    keyed by user_id, and hash partitioning on user_id satisfies the
    (user_id, event_type) clustering requirement, so the WHOLE
    feature vector costs ONE shuffle of events (plan-pinned). The
    watermark branch is a column-pruned scan-and-max (map-side, no
    shuffle), broadcast back.

    Entropy uses the single-pass identity
    H = ln(N) - sum(n*ln(n))/N, avoiding a totals self-join;
    ln-on-ratio parity follows transition_entropy's idiom (round 6
    after identical expressions)."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    gmax = e.agg(F.max("us").alias("g"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNotNull() & (gap <= 1_800_000_000), 0).otherwise(1),
    )
    per_type = flagged.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 4).alias("val"),
        F.sum("new_session").cast("bigint").alias("sess"),
        F.max("us").alias("last_us"),
    )
    return (
        per_type.crossJoin(F.broadcast(gmax))
        .groupBy("user_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.round(F.sum("val"), 4).alias("total_value"),
            F.sum("sess").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(
                F.log(F.sum("n"))
                - F.sum(F.col("n") * F.log("n")) / F.sum("n"),
                6,
            ).alias("type_entropy"),
            F.round(
                (F.max("g") - F.max("last_us")) / 3600000000.0, 4
            ).alias("recency_hours"),
        )
    )


@query(
    "cohort_ltv_curves",
    oracle="""
    WITH e AS (
      SELECT user_id, value,
             date_trunc('week', ts)::DATE AS wk
      FROM events
    ),
    firstw AS (
      SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_users
      FROM firstw GROUP BY cohort_wk
    ),
    cell AS (
      SELECT f.cohort_wk,
             CAST((e.wk - f.cohort_wk) / 7 AS BIGINT) AS age_weeks,
             round(sum(e.value), 4) AS v
      FROM e JOIN firstw f USING (user_id)
      GROUP BY 1, 2
    )
    SELECT strftime(c.cohort_wk, '%Y-%m-%d') AS cohort_week,
           c.age_weeks,
           s.cohort_users,
           round(sum(c.v) OVER (PARTITION BY c.cohort_wk
                                ORDER BY c.age_weeks
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW), 4) AS cum_value,
           round(sum(c.v) OVER (PARTITION BY c.cohort_wk
                                ORDER BY c.age_weeks
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)
                 / s.cohort_users, 4) AS cum_value_per_user
    FROM cell c JOIN sizes s USING (cohort_wk)
    """,
)
def cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue complement to
    cohort_retention: users grouped by first-seen ISO week, then
    cumulative value per cohort-age week, total and per cohort
    member (the LTV curve growth/finance teams read payback periods
    off). A cohort's curve is monotone by construction; flattening
    marks where incremental value stops.

    Scale: first-seen is one user-keyed agg; the (cohort, age) cell
    rollup shuffles on a CALENDAR-BOUNDED key pair, and the
    cumulative window runs per cohort over at most |weeks| rows —
    no per-user window anywhere; cohort sizes broadcast."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "value", F.date_trunc("week", "ts").cast("date").alias("wk")
    )
    firstw = e.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    sizes = firstw.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    cell = (
        e.join(firstw, "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff("wk", "cohort_wk") / 7)
            .cast("bigint")
            .alias("age_weeks"),
        )
        .agg(F.round(F.sum("value"), 4).alias("v"))
    )
    w = (
        Window.partitionBy("cohort_wk")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("v").over(w)
    return (
        cell.join(F.broadcast(sizes), "cohort_wk")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "age_weeks",
            "cohort_users",
            F.round(cum, 4).alias("cum_value"),
            F.round(cum / F.col("cohort_users"), 4).alias(
                "cum_value_per_user"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Survival analysis: Kaplan-Meier time-to-first-purchase
# ---------------------------------------------------------------------------

_KM_HORIZON_H = 96  # administrative censoring horizon (hours)


def _km_subjects(e: DataFrame, grouped: bool = False) -> DataFrame:
    """Shared subject builder for the survival family: ONE user-keyed
    pass computes each user's first event and first purchase
    (conditional min — the two oracle aggregates fused), the 1-row
    max-ts anchor broadcasts on, and the observation scheme
    (_KM_HORIZON_H administrative horizon, end-of-observation
    censoring, whole-elapsed-hours truncation) is applied once — so
    the estimator (km_time_to_purchase) and its hypothesis test
    (km_logrank_by_variant) provably share one censoring contract.
    Output: (t, ev[, grp]) per subject."""
    from ..util import portable_id_hash

    agg = e.groupBy("user_id").agg(
        F.min("ts").alias("f"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "fp"
        ),
    )
    if grouped:
        agg = agg.select(
            F.when(portable_id_hash(F.col("user_id")) % 2 == 0, "A")
            .otherwise("B")
            .alias("grp"),
            "f",
            "fp",
        )
    m = e.agg(F.max("ts").alias("mx"))
    hour_us = 3600 * 1_000_000
    subj = agg.crossJoin(F.broadcast(m)).select(
        *(["grp"] if grouped else []),
        ((F.unix_micros("fp") - F.unix_micros("f")) / hour_us)
        .cast("long")
        .alias("dur_h"),
        F.least(
            F.lit(_KM_HORIZON_H).cast("long"),
            ((F.unix_micros("mx") - F.unix_micros("f")) / hour_us)
            .cast("long"),
        ).alias("cens_h"),
    )
    is_event = F.col("dur_h").isNotNull() & (F.col("dur_h") <= F.col("cens_h"))
    return subj.select(
        *(["grp"] if grouped else []),
        F.when(is_event, F.col("dur_h")).otherwise(F.col("cens_h")).alias("t"),
        F.when(is_event, 1).otherwise(0).alias("ev"),
    )



@query(
    "km_time_to_purchase",
    oracle=f"""
    WITH u AS (
      SELECT user_id, min(ts) AS f FROM events GROUP BY 1
    ),
    p AS (
      SELECT user_id, min(ts) AS fp FROM events
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    m AS (SELECT max(ts) AS mx FROM events),
    subj AS (
      SELECT u.user_id,
             (epoch_us(p.fp) - epoch_us(u.f)) // 3600000000 AS dur_h,
             least({_KM_HORIZON_H},
                   (epoch_us(m.mx) - epoch_us(u.f)) // 3600000000) AS cens_h
      FROM u LEFT JOIN p USING (user_id) CROSS JOIN m
    ),
    obs AS (
      SELECT CASE WHEN dur_h IS NOT NULL AND dur_h <= cens_h
                  THEN dur_h ELSE cens_h END AS t_hours,
             CASE WHEN dur_h IS NOT NULL AND dur_h <= cens_h
                  THEN 1 ELSE 0 END AS ev
      FROM subj
    ),
    tbl AS (
      SELECT t_hours,
             CAST(sum(ev) AS BIGINT) AS n_events,
             CAST(sum(1 - ev) AS BIGINT) AS n_censored,
             CAST(count(*) AS BIGINT) AS n_total
      FROM obs GROUP BY 1
    ),
    km AS (
      SELECT t_hours, n_events, n_censored,
             CAST(sum(n_total) OVER (
               ORDER BY t_hours DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_at_risk
      FROM tbl
    )
    SELECT t_hours, n_at_risk, n_events, n_censored,
           CASE WHEN max(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t_hours
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     = 1
                THEN 0.0
                ELSE round(exp(sum(
                       CASE WHEN n_events = 0 THEN 0.0
                            ELSE ln(1.0 - CAST(n_events AS DOUBLE) / n_at_risk)
                       END) OVER (ORDER BY t_hours
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)), 6)
           END AS survival
    FROM km
    """,
)
def km_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator (Kaplan & Meier 1958, public
    method) over time-to-first-purchase in whole elapsed hours, with
    administrative right-censoring at a fixed horizon (and at each
    user's end of observation, whichever is sooner). The standard
    product-limit life table: one row per observed time with the risk
    set, event/censor counts, and S(t) = prod_{s<=t}(1 - d_s/n_s).

    Cross-engine float parity: S(t) is computed as
    exp(cumsum(ln(1 - d/n))) under an ORDERED cumulative window, so
    both engines accumulate the identical doubles in the identical
    order; d=n (risk set exhausted) short-circuits to exactly 0
    rather than ln(0).

    Scale: two user-keyed aggregates (first event / first purchase
    ride the same shuffle key) + a 1-row max-ts broadcast; the KM
    windows run over the per-hour life table, bounded by the horizon
    (<= {_KM_HORIZON_H}+1 rows), not the user count — the global sort
    is on a constant-size aggregate, never the corpus."""
    e = load(spark, sf_dir, "events")
    obs = _km_subjects(e).select(F.col("t").alias("t_hours"), "ev")
    tbl = obs.groupBy("t_hours").agg(
        F.sum("ev").cast("long").alias("n_events"),
        F.sum(1 - F.col("ev")).cast("long").alias("n_censored"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    # Risk set = subjects still under observation at t: reverse
    # cumulative total over the (horizon-bounded) life table.
    w_desc = Window.orderBy(F.desc("t_hours")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = tbl.withColumn(
        "n_at_risk", F.sum("n_total").over(w_desc).cast("long")
    )
    w_asc = Window.orderBy("t_hours").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    term = F.when(F.col("n_events") == 0, F.lit(0.0)).otherwise(
        F.log(1.0 - F.col("n_events").cast("double") / F.col("n_at_risk"))
    )
    exhausted = F.max(
        F.when(F.col("n_events") == F.col("n_at_risk"), 1).otherwise(0)
    ).over(w_asc)
    return km.select(
        "t_hours",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.when(exhausted == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(term).over(w_asc)), 6))
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# Most-probable-path distances over the transition graph
# ---------------------------------------------------------------------------

def _shortest_path_oracle_sql() -> str:
    return """
    WITH RECURSIVE tr AS (
      SELECT prev AS from_type, event_type AS to_type, count(*) AS n
      FROM (
        SELECT event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
      ) WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    outw AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS o FROM tr GROUP BY 1),
    ew AS (
      SELECT t.from_type, t.to_type,
             round(-ln(t.n * 1.0 / o.o), 9) AS w
      FROM tr t JOIN outw o USING (from_type)
    ),
    src AS (
      SELECT event_type FROM events
      GROUP BY 1 ORDER BY count(*) DESC, event_type LIMIT 1
    ),
    nv AS (SELECT count(DISTINCT event_type) AS v FROM events),
    paths(event_type, cost, hops) AS (
      SELECT event_type, CAST(0.0 AS DOUBLE), 0 FROM src
      UNION
      SELECT e.to_type, p.cost + e.w, p.hops + 1
      FROM paths p JOIN ew e ON e.from_type = p.event_type
      WHERE p.hops < (SELECT v - 1 FROM nv)
    )
    SELECT event_type, round(min(cost), 6) AS min_cost
    FROM paths GROUP BY 1
    """


@query("transition_shortest_paths", oracle=_shortest_path_oracle_sql())
def transition_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-probable-path (Viterbi-style) distance from the dominant
    entry event to every reachable event type: edge weight
    -ln(P(to|from)) over the first-order transition graph, so the
    min-cost path is the maximum-likelihood event sequence. Computed
    as Bellman-Ford relaxation DRIVER-SIDE over the collected
    event-type-bounded edge table (the markov_attribution stance: ALL
    event-scale work — the lag window + transition counts — is one
    distributed pass; the graph itself is |V|² rows at most, guarded
    at 10k), with the classic |V|-1 round bound AND a deterministic
    fixpoint early-exit (stop when no distance changed — safe for
    oracle parity, since further rounds are no-ops; r8 ADVICE: the
    previous Spark-iterated version paid a ~1 s scheduler floor per
    round with no early exit). The DuckDB oracle enumerates the same
    |V|-1-hop paths with a recursive CTE whose UNION dedup gives it
    the same effective early termination.

    Cross-engine float parity: edge weights are rounded to 9 decimals
    on both engines; driver relaxation accumulates cost + w in IEEE
    doubles exactly as the oracle's left-associated path sums, and
    float addition is monotone, so the DP min over relaxations equals
    the oracle's min over enumerated path sums term-for-term.

    Scale: the transition graph is an event-type-bounded aggregate of
    one events scan; corpus size only enters that aggregate — the
    relaxation itself is O(|V|·|E|) driver arithmetic on tens of
    rows, with zero per-round job launches."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    outw = tr.groupBy("from_type").agg(F.sum("n").cast("long").alias("o"))
    edge_rows = bounded_collect(
        tr.join(outw, "from_type").select(
            "from_type",
            "to_type",
            F.round(-F.log(F.col("n") * 1.0 / F.col("o")), 9).alias("w"),
        ),
        DRIVER_SOLVE_LIMIT,
        "transition_shortest_paths: transition edges (bucket event "
        "types first)",
    )
    src_row = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "event_type")
        .limit(1)
        .collect()
    )
    dist: dict[str, float] = {src_row[0]["event_type"]: 0.0} if src_row else {}
    n_types = len(
        {r.from_type for r in edge_rows} | {r.to_type for r in edge_rows}
        | set(dist)
    )
    for _ in range(max(n_types - 1, 1)):
        changed = False
        base = dict(dist)
        for r in edge_rows:
            c = base.get(r.from_type)
            if c is None:
                continue
            cand = c + r.w
            if r.to_type not in dist or cand < dist[r.to_type]:
                dist[r.to_type] = cand
                changed = True
        if not changed:
            break  # fixpoint: every further round is a no-op
    out = spark.createDataFrame(
        [(t, c) for t, c in dist.items()], "event_type string, cost double"
    )
    return out.select("event_type", F.round("cost", 6).alias("min_cost"))


# ---------------------------------------------------------------------------
# Poisson-bootstrap confidence interval
# ---------------------------------------------------------------------------

_BOOT_B = 200
# Poisson(1) inverse-CDF thresholds (cumulative pmf), capped at w=6.
_POIS1_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726563",
    "0.9994058151824183",
)


def _boot_w_sql(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {t}::DOUBLE THEN {k}" for k, t in enumerate(_POIS1_CDF)
    )
    return f"CASE {whens} ELSE 6 END"


@query(
    "purchase_mean_bootstrap_ci",
    oracle=f"""
    WITH p AS MATERIALIZED (
      SELECT event_id,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    rep AS (
      SELECT p.event_id, p.cents, b.b,
             ('0x' || substr(md5(CAST(p.event_id AS VARCHAR) || ':'
                                 || CAST(b.b AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
      FROM p CROSS JOIN (
        SELECT unnest(range(1, {_BOOT_B} + 1)) AS b) b
    ),
    means AS (
      SELECT b,
             CAST(sum(({_boot_w_sql('u')}) * cents) AS BIGINT) AS s1,
             CAST(sum({_boot_w_sql('u')}) AS BIGINT) AS s0
      FROM rep GROUP BY b HAVING sum({_boot_w_sql('u')}) > 0
    ),
    ranked AS (
      SELECT round(s1 / 100.0 / s0, 6) AS mean_b,
             row_number() OVER (ORDER BY s1 * 1.0 / s0, b) AS rk,
             count(*) OVER () AS n_rep
      FROM means
    ),
    pt AS (
      SELECT round(sum(cents) / 100.0 / count(*), 6) AS point_mean FROM p
    )
    SELECT CAST(max(n_rep) AS BIGINT) AS n_replicates,
           max(pt.point_mean) AS point_mean,
           max(CASE WHEN rk = CAST(ceil(0.025 * n_rep) AS BIGINT)
                    THEN mean_b END) AS ci_lo,
           max(CASE WHEN rk = CAST(floor(0.975 * n_rep) AS BIGINT)
                    THEN mean_b END) AS ci_hi
    FROM ranked CROSS JOIN pt
    """,
)
def purchase_mean_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% percentile-bootstrap confidence interval for the mean
    purchase value, via the POISSON bootstrap (Hanley & MacGibbon
    2006 / Chamandy et al. 2012, public methods) — the bootstrap that
    distributes: instead of resampling n rows with replacement (which
    needs a global index join), every row draws an independent
    Poisson(1) replication weight per replicate, so the whole thing
    is one explode + map-side-combinable keyed aggregate.

    Determinism/parity: the per-(row, replicate) uniform comes from
    the engine's one portable hash (util.portable_id_hash) divided by
    2^32 (exact), the Poisson inverse-CDF thresholds are shared
    literal doubles, and each replicate's statistic is assembled from
    EXACT integer sufficient statistics (value in rounded cents x
    integer weight), so replicate means are bit-identical across
    engines regardless of aggregation order. CI bounds are exact
    order statistics (ranks ceil(.025 B) / floor(.975 B)) with
    deterministic tie-break on the replicate id.

    Scale: B={_BOOT_B} replicates x one events scan, combinable into
    B partial sums per partition before any shuffle — no resample
    join, no global sort of the data (the only sort is over the
    B-row replicate table)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = e.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    from ..util import portable_id_hash, widen_scan

    # the B-fold explode + per-replicate md5 is map-heavy: widen an
    # under-partitioned test scan so it parallelizes (no-op at scale)
    p = widen_scan(p)
    rep = p.select(
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
        "event_id",
    ).select(
        "cents",
        "b",
        (
            portable_id_hash(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("b").cast("string"),
                )
            )
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    w = F.lit(6)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < float(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    means = (
        rep.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).cast("bigint").alias("s1"),
            F.sum("w").cast("bigint").alias("s0"),
        )
        .filter(F.col("s0") > 0)
    )
    w_rank = Window.orderBy(F.col("s1") * 1.0 / F.col("s0"), "b")
    ranked = means.select(
        F.round(F.col("s1") / 100.0 / F.col("s0"), 6).alias("mean_b"),
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_rep"),
    )
    pt = p.agg(
        F.round(F.sum("cents") / 100.0 / F.count(F.lit(1)), 6).alias(
            "point_mean"
        )
    )
    lo_rk = F.ceil(0.025 * F.col("n_rep")).cast("bigint")
    hi_rk = F.floor(0.975 * F.col("n_rep")).cast("bigint")
    return ranked.crossJoin(F.broadcast(pt)).agg(
        F.max("n_rep").cast("bigint").alias("n_replicates"),
        F.max("point_mean").alias("point_mean"),
        F.max(F.when(F.col("rk") == lo_rk, F.col("mean_b"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == hi_rk, F.col("mean_b"))).alias("ci_hi"),
    )


@query(
    "daily_value_holt",
    oracle="""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT strftime(ts, '%Y-%m-%d') AS d, round(sum(value), 4) AS v
      FROM events GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT d, v, row_number() OVER (ORDER BY d) AS i FROM daily
    ),
    hw(i, l, b) AS (
      SELECT i, v, 0.0::DOUBLE FROM idx WHERE i = 1
      UNION ALL
      SELECT idx.i,
             0.3::DOUBLE * idx.v + 0.7::DOUBLE * (hw.l + hw.b),
             0.2::DOUBLE * ((0.3::DOUBLE * idx.v
                             + 0.7::DOUBLE * (hw.l + hw.b)) - hw.l)
               + 0.8::DOUBLE * hw.b
      FROM hw JOIN idx ON idx.i = hw.i + 1
    )
    SELECT idx.d, idx.v AS actual,
           round(hw.l, 6) AS level,
           round(hw.b, 6) AS trend,
           CASE WHEN idx.i = 1 THEN NULL
                ELSE round(prev.l + prev.b, 6) END AS forecast,
           CASE WHEN idx.i = 1 THEN NULL
                ELSE round(idx.v - round(prev.l + prev.b, 6), 6)
           END AS residual
    FROM idx
    JOIN hw ON hw.i = idx.i
    LEFT JOIN hw prev ON prev.i = idx.i - 1
    """,
)
def daily_value_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend,
    alpha=0.3, beta=0.2 — Holt 1957, public method) of the daily
    value series, with the one-step-ahead forecast l+b and its
    residual per day — the trend-aware upgrade of `daily_value_ewma`
    for drifting metrics (EWMA lags a ramp; Holt tracks it).

    Parity: the coupled (l, b) recurrence cannot be unrolled to
    EWMA's scalar closed form, so the oracle carries the exact state
    through a LINEAR recursive CTE while Spark evaluates the
    identical left-to-right arithmetic as per-prefix F.aggregate
    folds over the collected day series (prefix folds repeat the
    same operation sequence, so both engines produce bit-identical
    doubles; a struct-state list_reduce was rejected — DuckDB 1.0
    evaluates it with divergent intermediate states). Non-dyadic
    smoothing constants keep rounded values off .5 boundaries
    (verify-skill stance).

    Scale: the event-scale work is one map-side-combinable day
    rollup; the fold runs over the CALENDAR-BOUNDED day array (a
    decade is ~3.7k entries; the per-prefix quadratic is ~7M fused
    scalar ops on a 1-row broadcast array — driver trivia), the same
    boundedness argument as daily_value_ewma."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("v")
    )
    idx = daily.withColumn(
        "i", F.row_number().over(Window.orderBy("d"))
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "v"))).alias("arr")
    ).select(F.expr("transform(arr, s -> s.v)").alias("vs"))
    st = idx.crossJoin(F.broadcast(series))
    fold = (
        "aggregate(slice(vs, 2, {n}), "
        "named_struct('l', vs[0], 'b', 0.0D), "
        "(acc, v) -> named_struct("
        "'l', 0.3D * v + 0.7D * (acc.l + acc.b), "
        "'b', 0.2D * ((0.3D * v + 0.7D * (acc.l + acc.b)) - acc.l) "
        "+ 0.8D * acc.b))"
    )
    cur = F.expr(fold.format(n="i - 1"))
    prev = F.expr(fold.format(n="i - 2"))
    fc = F.when(F.col("i") == 1, F.lit(None).cast("double")).otherwise(
        F.round(prev["l"] + prev["b"], 6)
    )
    return st.select(
        "d",
        F.col("v").alias("actual"),
        F.round(cur["l"], 6).alias("level"),
        F.round(cur["b"], 6).alias("trend"),
        fc.alias("forecast"),
        F.when(F.col("i") == 1, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("v") - fc, 6))
        .alias("residual"),
    )


_DTW_INF = 10**15


@query(
    "event_type_dtw",
    oracle=f"""
    WITH RECURSIVE bounds AS (
      SELECT CAST(min(ts) AS DATE) AS mn, CAST(max(ts) AS DATE) AS mx
      FROM events
    ),
    cal AS (
      SELECT unnest(range(0, date_diff('day', mn, mx) + 1)) AS idx
      FROM bounds
    ),
    cnts AS (
      SELECT event_type,
             date_diff('day', (SELECT mn FROM bounds), CAST(ts AS DATE))
               AS idx,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    vecs AS (
      SELECT t.event_type,
             list(CAST(coalesce(c.n, 0) AS BIGINT) ORDER BY cal.idx) AS vec
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN cal
      LEFT JOIN cnts c
        ON c.event_type = t.event_type AND c.idx = cal.idx
      GROUP BY t.event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.vec AS va, b.vec AS vb
      FROM vecs a JOIN vecs b ON a.event_type < b.event_type
    ),
    dp(type_a, type_b, i, row) AS (
      SELECT type_a, type_b, 0,
             list_prepend(0::BIGINT,
                          list_transform(vb, x -> {_DTW_INF}::BIGINT))
      FROM pairs
      UNION ALL
      SELECT dp.type_a, dp.type_b, dp.i + 1,
        list_reduce(
          list_prepend([{_DTW_INF}::BIGINT],
                       list_transform(range(1, len(p.vb) + 1),
                                      j -> [j::BIGINT])),
          (nr, jl) -> list_append(nr,
            abs(p.va[dp.i + 1] - p.vb[len(nr)])
            + least(dp.row[len(nr) + 1], dp.row[len(nr)], nr[len(nr)])))
      FROM dp JOIN pairs p
        ON p.type_a = dp.type_a AND p.type_b = dp.type_b
      WHERE dp.i < len(p.va)
    )
    SELECT dp.type_a, dp.type_b,
           CAST(len(p.va) AS BIGINT) AS n_days,
           row[len(p.vb) + 1] AS dtw_distance
    FROM dp JOIN pairs p
      ON p.type_a = dp.type_a AND p.type_b = dp.type_b
    WHERE dp.i = len(p.va)
    """,
)
def event_type_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance (Sakoe & Chiba 1978, public
    method) between every pair of event types' daily-count series —
    the alignment-tolerant time-series similarity that cosine
    (`user_activity_similarity`) can't express: a traffic pattern
    shifted by a day still matches. Series are dense calendar
    vectors (missing days = 0), distances are EXACT integer DP (the
    |a-b| local cost and min-plus recurrence never leave BIGINT), so
    cross-engine parity is structural — no float discipline needed.

    Engine mechanics: Spark evaluates the DP as a nested aggregate()
    fold (outer over series A, inner building each row left-to-right
    with the within-row dependence); the oracle carries the DP row
    through a linear recursive CTE with a single-level list_reduce
    (DuckDB 1.0 lambdas cannot capture outer lambda variables, and
    list_reduce has no init argument — the row/init ride as
    prepended list elements instead).

    Scale: the event-scale work is one (type, day)-keyed count; the
    O(days^2) DP runs per TYPE PAIR over calendar-bounded vectors —
    at a decade horizon that is ~13M fused integer ops per pair,
    driver trivia, and the pair count is type-vocabulary-bounded."""
    e = load(spark, sf_dir, "events")
    # r14: bounds feeds the calendar AND the count keying, and dense
    # feeds BOTH pair-join sides — unpinned, the events scan re-ran
    # 16x per action. 1-row / type-bounded tables, one execution each
    # (guide §3.3).
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("mn"), F.max(F.to_date("ts")).alias("mx")
    ).localCheckpoint(eager=False)
    cal = bounds.select(
        F.explode(F.sequence(F.lit(0), F.datediff("mx", "mn"))).alias("idx")
    )
    cnts = (
        e.crossJoin(F.broadcast(bounds.select("mn")))
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.col("mn")).alias("idx"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    types = e.select("event_type").distinct()
    dense = (
        types.crossJoin(cal)
        .join(cnts, ["event_type", "idx"], "left")
        .groupBy("event_type")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(idx, n))), "
                "s -> coalesce(s.n, 0L))"
            ).alias("vec")
        )
        .localCheckpoint(eager=False)
    )
    pairs = (
        dense.select(
            F.col("event_type").alias("type_a"), F.col("vec").alias("va")
        )
        .join(
            dense.select(
                F.col("event_type").alias("type_b"), F.col("vec").alias("vb")
            ),
            F.col("type_a") < F.col("type_b"),
        )
    )
    dtw = f"""
    element_at(
      aggregate(va,
        concat(array(0L), transform(vb, x -> {_DTW_INF}L)),
        (old, x) -> aggregate(sequence(1, size(vb)),
          array({_DTW_INF}L),
          (nr, j) -> concat(nr, array(
            abs(x - element_at(vb, j))
            + least(element_at(old, j + 1), element_at(old, j),
                    element_at(nr, j)))))),
      size(vb) + 1)"""
    return pairs.selectExpr(
        "type_a",
        "type_b",
        "cast(size(va) as bigint) as n_days",
        f"{dtw} as dtw_distance",
    )


@query(
    "smoothed_conversion_rates",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_purchases
      FROM events GROUP BY user_id
    ),
    moments AS (
      SELECT round(avg(n_purchases * 1.0 / n_events), 6) AS m,
             round(var_samp(n_purchases * 1.0 / n_events), 6) AS v
      FROM per_user
    ),
    prior AS (
      SELECT m, v,
             CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
                  THEN m * (m * (1 - m) / v - 1) ELSE NULL END AS alpha,
             CASE WHEN v > 0 AND m * (1 - m) / v - 1 > 0
                  THEN (1 - m) * (m * (1 - m) / v - 1) ELSE NULL END AS beta
      FROM moments
    )
    SELECT user_id, n_events, n_purchases,
           round(n_purchases * 1.0 / n_events, 6) AS raw_rate,
           round(CASE WHEN alpha IS NULL
                      THEN n_purchases * 1.0 / n_events
                      ELSE (n_purchases + alpha) / (n_events + alpha + beta)
                 END, 6) AS smoothed_rate
    FROM per_user CROSS JOIN prior
    """,
)
def smoothed_conversion_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-user conversion
    rates (Robbins 1956 / the standard CTR-smoothing construction,
    public method): fit a Beta(alpha, beta) prior to the observed
    rate distribution by method of moments, then report each user's
    posterior-mean rate (k + alpha)/(n + alpha + beta) — low-traffic
    users shrink toward the population mean instead of broadcasting
    noisy 0%/100% rates into downstream features. Degenerate moments
    (zero variance) fall back to the raw rate, CASE-identically on
    both engines.

    Float discipline (verify-skill stance): the prior is scalar
    algebra over ROUNDED moments (avg/var at 6dp, the ab_test_welch
    pattern), so both engines derive bit-identical alpha/beta; the
    per-user posterior then divides exact integers by those shared
    scalars.

    Scale: one user-keyed count aggregate + a broadcast 1-row prior —
    the cheapest per-entity feature shape there is."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    )
    rate = F.col("n_purchases") * 1.0 / F.col("n_events")
    moments = per_user.agg(
        F.round(F.avg(rate), 6).alias("m"),
        F.round(F.var_samp(rate), 6).alias("v"),
    )
    strength = F.col("m") * (1 - F.col("m")) / F.col("v") - 1
    ok = (F.col("v") > 0) & (strength > 0)
    prior = moments.select(
        F.when(ok, F.col("m") * strength).alias("alpha"),
        F.when(ok, (1 - F.col("m")) * strength).alias("beta"),
    )
    smoothed = F.when(
        F.col("alpha").isNull(), rate
    ).otherwise(
        (F.col("n_purchases") + F.col("alpha"))
        / (F.col("n_events") + F.col("alpha") + F.col("beta"))
    )
    return per_user.crossJoin(F.broadcast(prior)).select(
        "user_id",
        "n_events",
        "n_purchases",
        F.round(rate, 6).alias("raw_rate"),
        F.round(smoothed, 6).alias("smoothed_rate"),
    )


@query(
    "benford_value_audit",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE round(value * 100, 0) > 0
    ),
    digits AS (
      SELECT substr(CAST(c AS VARCHAR), 1, 1) AS digit,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM cents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM digits),
    tbl AS (
      SELECT digit, n_obs,
             round(n_obs * 1.0 / tot.n, 6) AS obs_share,
             round(ln(1.0 + 1.0 / CAST(digit AS INT)) / ln(10.0), 6)
               AS exp_share,
             tot.n AS n
      FROM digits CROSS JOIN tot
    )
    SELECT digit, n_obs, obs_share, exp_share,
           round(sum(n * (obs_share - exp_share) * (obs_share - exp_share)
                     / exp_share) OVER (), 4) AS chi2
    FROM tbl
    """,
)
def benford_value_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit (Benford 1938 / Nigrini's
    fraud-screening use, public method) over the event value column:
    observed leading-significant-digit shares vs the log10(1 + 1/d)
    law, with the chi-square deviation statistic — the standard
    forensic screen for fabricated or truncated monetary data.

    Digit extraction is EXACT: values become integer cents first
    (round*100, the repo's money convention), and the leading digit
    is the first character of the integer's decimal string —
    identical across engines, with no float log10 near power-of-ten
    boundaries. Shares and the digit law are rounded at 6dp before
    the chi-square algebra (rounded-sufficient-statistics stance).

    Scale: one scan into a 9-row digit aggregate; the chi-square
    window runs over those 9 rows."""
    e = load(spark, sf_dir, "events")
    cents = e.select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c")
    ).filter(F.col("c") > 0)
    digits = cents.groupBy(
        F.substring(F.col("c").cast("string"), 1, 1).alias("digit")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    tot = digits.agg(F.sum("n_obs").cast("long").alias("n"))
    tbl = digits.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(F.col("n_obs") * 1.0 / F.col("n"), 6).alias("obs_share"),
        F.round(
            F.log(1.0 + 1.0 / F.col("digit").cast("int")) / F.log(F.lit(10.0)),
            6,
        ).alias("exp_share"),
        "n",
    )
    chi = F.sum(
        F.col("n")
        * (F.col("obs_share") - F.col("exp_share"))
        * (F.col("obs_share") - F.col("exp_share"))
        / F.col("exp_share")
    ).over(Window.partitionBy())
    return tbl.select(
        "digit", "n_obs", "obs_share", "exp_share",
        F.round(chi, 4).alias("chi2"),
    )


@query(
    "user_value_gini",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, user_id) AS i,
             count(*) OVER () AS n,
             sum(cents) OVER () AS tot
      FROM per_user
    )
    SELECT CAST(max(n) AS BIGINT) AS n_users,
           round(max(tot) / 100.0, 2) AS total_value,
           round(2.0 * sum(i * cents) / (max(n) * max(tot))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM ranked
    """,
)
def user_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user value (Gini 1912, the standard
    revenue-concentration metric): 0 = every user contributes
    equally, ->1 = a whale carries everything — the one-number
    inequality readout product teams track next to DAU. Computed by
    the rank formula G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n over users
    sorted ascending by value (deterministic tie-break on user_id).

    Exactness: per-user values are integer cents, so sum(i*x_i) and
    the totals are exact integer arithmetic on both engines; the only
    float ops are the two final divisions on identical integers.

    Scale: the rank window runs over the USER AGGREGATE (entities,
    not events) — an sf-bounded exact BASELINE, kept for parity like
    rfm_segments / value_deciles; `user_value_gini_approx` is the
    at-scale twin (sampled-cut-point binned Lorenz, no global
    window over users)."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("cents", "user_id")
    wall = Window.partitionBy()
    ranked = per_user.select(
        "cents",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("cents").over(wall).alias("tot"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_users"),
        F.round(F.max("tot") / 100.0, 2).alias("total_value"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("cents"))
            / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


_GINI_SAMPLE_K = 2000  # deterministic user sample; cut error ~1/sqrt(k)
_GINI_BINS = 20  # equal-frequency Lorenz bins; grouped-Gini bias ~O(1/B^2)


@query(
    "user_value_gini_approx",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY user_id
    ),
    hh AS (
      SELECT user_id, cents,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
      FROM per_user
    ),
    samp AS (
      SELECT user_id, cents FROM (
        SELECT *, row_number() OVER (ORDER BY h, user_id) AS rn FROM hh
      ) WHERE rn <= {_GINI_SAMPLE_K}
    ),
    sr AS (
      SELECT cents AS cv, user_id AS cuid,
             row_number() OVER (ORDER BY cents, user_id) AS srn
      FROM samp
    ),
    sc AS (SELECT count(*) AS s FROM samp),
    cuts AS (
      SELECT js.j, sr.cv, sr.cuid
      FROM sc
      CROSS JOIN (SELECT unnest(generate_series(1, {_GINI_BINS - 1})) AS j)
        js
      JOIN sr ON sr.srn = (js.j * sc.s + {_GINI_BINS - 1}) // {_GINI_BINS}
    ),
    assigned AS (
      SELECT p.cents,
             1 + (SELECT count(*) FROM cuts c
                  WHERE p.cents > c.cv
                     OR (p.cents = c.cv AND p.user_id > c.cuid)) AS bin
      FROM per_user p
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(cents) AS BIGINT) AS s_b
      FROM assigned GROUP BY bin
    ),
    lorenz AS (
      SELECT n_b, s_b,
             CAST(sum(s_b) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cums,
             CAST(sum(n_b) OVER () AS BIGINT) AS n,
             CAST(sum(s_b) OVER () AS BIGINT) AS s
      FROM bins
    ),
    terms AS (
      SELECT n, s,
             CAST(round(n_b * 1000000000.0 / n, 0) AS BIGINT)
             * (CAST(round((cums - s_b) * 1000000000.0 / s, 0) AS BIGINT)
                + CAST(round(cums * 1000000000.0 / s, 0) AS BIGINT)) AS t
      FROM lorenz
    )
    SELECT CAST(max(n) AS BIGINT) AS n_users,
           round(max(s) / 100.0, 2) AS total_value,
           round(1.0 - CAST(sum(t) AS BIGINT) / 1e18, 6) AS gini_approx
    FROM terms
    """,
)
def user_value_gini_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_value_gini's at-scale twin: grouped (binned-Lorenz) Gini
    from {_GINI_BINS} equal-frequency bins whose cut points come from
    a fixed-size deterministic user sample — the standard
    grouped-data trapezoid G = 1 - sum_b p_b * (L_(b-1) + L_b)
    (Gastwirth 1972), a lower-bound estimate whose bias shrinks as
    O(1/B^2).

    Why this survives 100×: the exact twin funnels EVERY user through
    one single-partition rank/cumsum window; here the
    full-cardinality side is scan -> broadcast-join -> 19-element
    array filter -> {_GINI_BINS}-row aggregate, the sample is
    TakeOrderedAndProject (per-partition top-k merge, never a full
    sort — the rfm_segments_approx pattern), and the only windows run
    over the <= {_GINI_BINS}-row bin table.

    Determinism: bins, counts, and cent sums are exact integers; the
    trapezoid terms are 1e9-scaled BIGINT products of rounds of
    identical double quotients (both engines round-half-up on
    non-negative doubles), so the final sum is exact integer algebra
    with ONE float division at the end."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    # sample + assignment + totals all consume per_user; AQE does not
    # reuse the exchange across branches (rfm_segments_approx note)
    pu = per_user.localCheckpoint(eager=True)
    samp = (
        pu.withColumn("h", _portable_id_hash("user_id"))
        .orderBy("h", "user_id")
        .limit(_GINI_SAMPLE_K)
        .drop("h")
    )
    b = _GINI_BINS
    cut_arr = (
        samp.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("cents").alias("cv"),
                        F.col("user_id").alias("cuid"),
                    )
                )
            ).alias("a"),
            F.count("*").alias("s"),
        )
        .select(
            F.transform(
                F.sequence(F.lit(1), F.lit(b - 1)),
                lambda j: F.element_at(
                    "a", F.floor((j * F.col("s") + (b - 1)) / b).cast("int")
                ),
            ).alias("cuts")
        )
    )
    assigned = pu.crossJoin(F.broadcast(cut_arr)).select(
        "cents",
        (
            F.lit(1)
            + F.size(
                F.filter(
                    F.col("cuts"),
                    lambda c: (F.col("cents") > c["cv"])
                    | (
                        (F.col("cents") == c["cv"])
                        & (F.col("user_id") > c["cuid"])
                    ),
                )
            )
        ).alias("bin"),
    )
    bins = assigned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("cents").cast("long").alias("s_b"),
    )
    worder = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    lorenz = bins.select(
        "n_b",
        "s_b",
        F.sum("s_b").over(worder).cast("long").alias("cums"),
        F.sum("n_b").over(wall).cast("long").alias("n"),
        F.sum("s_b").over(wall).cast("long").alias("s"),
    )
    scale = 1000000000.0
    terms = lorenz.select(
        "n",
        "s",
        (
            F.round(F.col("n_b") * scale / F.col("n"), 0).cast("bigint")
            * (
                F.round(
                    (F.col("cums") - F.col("s_b")) * scale / F.col("s"), 0
                ).cast("bigint")
                + F.round(F.col("cums") * scale / F.col("s"), 0).cast(
                    "bigint"
                )
            )
        ).alias("t"),
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_users"),
        F.round(F.max("s") / 100.0, 2).alias("total_value"),
        F.round(1.0 - F.sum("t").cast("long") / F.lit(1e18), 6).alias(
            "gini_approx"
        ),
    )


@query(
    "daily_trend_theil_sen",
    oracle="""
    WITH day0 AS (
      SELECT CAST(ts AS DATE) AS d, round(sum(value), 4) AS y
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT CAST(datediff('day', min(d) OVER (), d) AS INT) AS x, y
      FROM day0
    ),
    slopes AS (
      SELECT (b.y - a.y) / (b.x - a.x) AS s
      FROM daily a JOIN daily b ON b.x > a.x
    ),
    ms AS (
      SELECT s, row_number() OVER (ORDER BY s) AS r, count(*) OVER () AS n
      FROM slopes
    ),
    med AS (
      SELECT round(avg(s), 6) AS slope FROM ms
      WHERE r IN ((n + 1) // 2, (n + 2) // 2)
    ),
    resid AS (
      SELECT d.y - med.slope * d.x AS c,
             row_number() OVER (ORDER BY d.y - med.slope * d.x) AS r,
             count(*) OVER () AS n,
             med.slope AS slope
      FROM daily d CROSS JOIN med
    )
    SELECT CAST(max(n) AS BIGINT) AS n_days,
           max(slope) AS slope,
           round(avg(CASE WHEN r IN ((n + 1) // 2, (n + 2) // 2)
                          THEN c END), 6) AS intercept
    FROM resid
    """,
)
def daily_trend_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator (Theil 1950 / Sen 1968, public
    method) of the daily value series: the MEDIAN of all pairwise
    slopes, with the matching median-residual intercept — the
    outlier-resistant companion to `daily_trend_mann_kendall` (which
    tests direction; this estimates magnitude) and the robust
    alternative to OLS on spiky metrics (breakdown point ~29%).

    Determinism/parity: x is days since the series MINIMUM date
    (datediff, the same multi-year-safe x `event_type_dtw` uses — NOT
    day-of-year, which would alias dates across calendar years), y the
    4dp-rounded day sum, so every pairwise slope is the same double on
    both engines; medians are exact order statistics (rank-selected,
    averaging the two middle ranks), and the median slope is ROUNDED
    before the intercept residuals so both engines rank identical
    residual values.

    Scale: the O(days^2) pair join runs over the CALENDAR-BOUNDED day
    aggregate (a decade is ~6.8M pairs — driver trivia); the only
    event-scale work is one map-side-combinable day rollup. The
    min-date window is a single pass over that same day table."""
    e = load(spark, sf_dir, "events")
    day0 = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("y")
    )
    daily = day0.select(
        F.datediff("d", F.min("d").over(Window.partitionBy()))
        .cast("int")
        .alias("x"),
        "y",
    ).localCheckpoint(eager=True)
    # checkpointed: the slope self-join and residual pass reuse the
    # calendar-bounded aggregate instead of re-scanning events (3x)
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("b.x") > F.col("a.x")).select(
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias(
            "s"
        )
    )
    wall = Window.partitionBy()
    ms = slopes.select(
        "s",
        F.row_number().over(Window.orderBy("s")).alias("r"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    med = ms.filter(
        (F.col("r") == ((F.col("n") + 1) / 2).cast("int"))
        | (F.col("r") == ((F.col("n") + 2) / 2).cast("int"))
    ).agg(F.round(F.avg("s"), 6).alias("slope"))
    resid = daily.crossJoin(F.broadcast(med)).select(
        (F.col("y") - F.col("slope") * F.col("x")).alias("c"),
        "slope",
    )
    rr = resid.select(
        "c",
        "slope",
        F.row_number().over(Window.orderBy("c")).alias("r"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return rr.agg(
        F.max("n").cast("long").alias("n_days"),
        F.max("slope").alias("slope"),
        F.round(
            F.avg(
                F.when(
                    (F.col("r") == ((F.col("n") + 1) / 2).cast("int"))
                    | (F.col("r") == ((F.col("n") + 2) / 2).cast("int")),
                    F.col("c"),
                )
            ),
            6,
        ).alias("intercept"),
    )


@query(
    "ab_test_proportions",
    oracle="""
    WITH assign AS (
      SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events
    ),
    stats AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS k
      FROM assign GROUP BY variant
    ),
    wide AS (
      SELECT max(CASE WHEN variant = 'A' THEN n END) AS n_a,
             max(CASE WHEN variant = 'B' THEN n END) AS n_b,
             max(CASE WHEN variant = 'A' THEN k END) AS k_a,
             max(CASE WHEN variant = 'B' THEN k END) AS k_b
      FROM stats
    )
    SELECT n_a, n_b, k_a, k_b,
           round(k_a * 1.0 / n_a, 6) AS rate_a,
           round(k_b * 1.0 / n_b, 6) AS rate_b,
           CASE WHEN (k_a + k_b) = 0 OR (k_a + k_b) = (n_a + n_b) THEN NULL
                ELSE round((k_a * 1.0 / n_a - k_b * 1.0 / n_b)
                     / sqrt(((k_a + k_b) * 1.0 / (n_a + n_b))
                            * (1 - (k_a + k_b) * 1.0 / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 4)
           END AS z
    FROM wide
    """,
)
def ab_test_proportions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled variance) on the purchase share
    of events between hash-assigned variants — the binomial companion
    to `ab_test_welch` (means) and `ab_test_cuped` (variance-reduced
    means). Assignment hashes the USER (the engine's portable hash,
    same buckets as the other A/B readouts) while the unit counted is
    the event; the naive z ignores that within-user clustering, the
    standard caveat of event-level readouts (the user-level CUPED
    query is the design-correct one — this is the quick screen).
    Degenerate pools (all or zero conversions) yield NULL instead of
    a divide-by-zero, CASE-identically on both engines.

    Parity: the statistic is scalar algebra over four exact integers
    (n/k per variant) — no float aggregation anywhere.

    Scale: one scan into a 2-row variant aggregate."""
    from ..util import portable_id_hash

    e = load(spark, sf_dir, "events")
    assign = e.select(
        F.when(portable_id_hash(F.col("user_id")) % 2 == 0, "A")
        .otherwise("B")
        .alias("variant"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    stats = assign.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("k"),
    )
    wide = stats.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "A", F.col("k"))).alias("k_a"),
        F.max(F.when(F.col("variant") == "B", F.col("k"))).alias("k_b"),
    )
    ra = F.col("k_a") * 1.0 / F.col("n_a")
    rb = F.col("k_b") * 1.0 / F.col("n_b")
    ktot = F.col("k_a") + F.col("k_b")
    ntot = F.col("n_a") + F.col("n_b")
    pool = ktot * 1.0 / ntot
    z = F.when((ktot == 0) | (ktot == ntot), F.lit(None).cast("double")).otherwise(
        F.round(
            (ra - rb)
            / F.sqrt(
                pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            ),
            4,
        )
    )
    return wide.select(
        "n_a", "n_b", "k_a", "k_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        z.alias("z"),
    )


@query(
    "km_logrank_by_variant",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS grp,
             min(ts) AS f
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT user_id, min(ts) AS fp FROM events
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    m AS (SELECT max(ts) AS mx FROM events),
    subj AS (
      SELECT u.grp,
             (epoch_us(p.fp) - epoch_us(u.f)) // 3600000000 AS dur_h,
             least({_KM_HORIZON_H},
                   (epoch_us(m.mx) - epoch_us(u.f)) // 3600000000) AS cens_h
      FROM u LEFT JOIN p USING (user_id) CROSS JOIN m
    ),
    obs AS (
      SELECT grp,
             CASE WHEN dur_h IS NOT NULL AND dur_h <= cens_h
                  THEN dur_h ELSE cens_h END AS t,
             CASE WHEN dur_h IS NOT NULL AND dur_h <= cens_h
                  THEN 1 ELSE 0 END AS ev
      FROM subj
    ),
    tbl AS (
      SELECT t,
             CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS tot_a,
             CAST(sum(CASE WHEN grp = 'A' THEN ev ELSE 0 END) AS BIGINT)
               AS d_a,
             CAST(count(*) AS BIGINT) AS tot,
             CAST(sum(ev) AS BIGINT) AS d
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d, d_a,
             CAST(sum(tot) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n,
             CAST(sum(tot_a) OVER (ORDER BY t DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_a
      FROM tbl
    ),
    terms AS (
      SELECT d_a - d * (n_a * 1.0 / n) AS oe,
             CASE WHEN n > 1
                  THEN d * (n_a * 1.0 / n) * (1 - n_a * 1.0 / n)
                       * (n - d) / (n - 1.0)
                  ELSE 0.0 END AS v
      FROM risk WHERE d > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_event_times,
           round(sum(oe), 6) AS o_minus_e,
           round(sum(v), 6) AS variance,
           CASE WHEN sum(v) > 0
                THEN round(sum(oe) * sum(oe) / sum(v), 4) END AS chi2
    FROM terms
    """,
)
def km_logrank_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel 1966 / Peto, public method) comparing
    time-to-first-purchase between the two hash-assigned variants —
    the survival-family hypothesis test that goes with
    `km_time_to_purchase`'s estimator and the other `ab_test_*`
    readouts (same portable user-hash buckets). At each event time:
    observed group-A events vs the hypergeometric expectation
    d * n_A/n, variance d*(n_A/n)*(1-n_A/n)*(n-d)/(n-1), and the
    chi-square statistic (sum(O-E))^2 / sum(V) with 1 df.

    Parity: the life table is exact integers; the per-time O-E and V
    terms are identical doubles on both engines, summed under a
    6dp-rounded aggregate (bounded life table, ordered identically);
    zero-variance degenerates yield NULL chi2 CASE-identically.

    Scale: the same two user-keyed aggregates as the KM query; the
    log-rank reduction runs over the horizon-bounded life table."""
    e = load(spark, sf_dir, "events")
    obs = _km_subjects(e, grouped=True)
    tbl = obs.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0))
        .cast("long")
        .alias("tot_a"),
        F.sum(F.when(F.col("grp") == "A", F.col("ev")).otherwise(0))
        .cast("long")
        .alias("d_a"),
        F.count(F.lit(1)).cast("long").alias("tot"),
        F.sum("ev").cast("long").alias("d"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = tbl.select(
        "t",
        "d",
        "d_a",
        F.sum("tot").over(w_desc).cast("long").alias("n"),
        F.sum("tot_a").over(w_desc).cast("long").alias("n_a"),
    ).filter(F.col("d") > 0)
    share = F.col("n_a") * 1.0 / F.col("n")
    oe = F.col("d_a") - F.col("d") * share
    v = F.when(
        F.col("n") > 1,
        F.col("d") * share * (1 - share) * (F.col("n") - F.col("d"))
        / (F.col("n") - 1.0),
    ).otherwise(F.lit(0.0))
    terms = risk.select(oe.alias("oe"), v.alias("v"))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_event_times"),
        F.round(F.sum("oe"), 6).alias("o_minus_e"),
        F.round(F.sum("v"), 6).alias("variance"),
        F.when(
            F.sum("v") > 0,
            F.round(F.sum("oe") * F.sum("oe") / F.sum("v"), 4),
        ).alias("chi2"),
    )


@query(
    "value_ks_drift_test",
    oracle="""
    WITH halves AS (
      SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents,
             CASE WHEN epoch_us(ts) <
                    (SELECT min(epoch_us(ts))
                            + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2
                     FROM events)
                  THEN 'early' ELSE 'late' END AS half
      FROM events
    ),
    bins AS (
      SELECT cents,
             CAST(sum(CASE WHEN half = 'early' THEN 1 ELSE 0 END) AS BIGINT)
               AS a,
             CAST(sum(CASE WHEN half = 'late' THEN 1 ELSE 0 END) AS BIGINT)
               AS b
      FROM halves GROUP BY cents
    ),
    tot AS (
      SELECT CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(b) AS BIGINT) AS n_b
      FROM bins
    ),
    cdf AS (
      SELECT sum(a) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               * 1.0 / tot.n_a
             - sum(b) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               * 1.0 / tot.n_b AS diff,
             tot.n_a AS n_a, tot.n_b AS n_b
      FROM bins CROSS JOIN tot
    )
    SELECT CAST(max(n_a) AS BIGINT) AS n_early,
           CAST(max(n_b) AS BIGINT) AS n_late,
           round(max(abs(diff)), 6) AS ks_d,
           round(1.358 * sqrt((max(n_a) + max(n_b)) * 1.0
                              / (max(n_a) * max(n_b))), 6) AS crit_05,
           CAST(CASE WHEN max(abs(diff)) >
                1.358 * sqrt((max(n_a) + max(n_b)) * 1.0
                             / (max(n_a) * max(n_b)))
                THEN 1 ELSE 0 END AS INT) AS drifted
    FROM cdf
    """,
)
def value_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test (Kolmogorov 1933 /
    Smirnov 1939, public method) between the early and late halves of
    the observation window: D = max |ECDF_early - ECDF_late| over the
    value distribution, with the 5% critical value
    1.358*sqrt((na+nb)/(na*nb)) and a reject flag — the exact-
    statistic companion to `value_drift_psi` (PSI buckets coarsely;
    KS finds the worst CDF gap wherever it is).

    Parity: values land on the integer-cents grid first, so the CDF
    window walks identical ordered integer bins on both engines; the
    midpoint split is epoch arithmetic on exact timestamps.

    Scale: two scans' worth of work in one pass (bin counts keyed by
    cents), then ordered windows over the VALUE-DOMAIN-bounded bin
    table (~10k bins for a 0-100 money domain) — never an event-scale
    sort. For unbounded domains substitute the quantile-sketch bins
    (`value_quantile_sketch`), trading exactness for fixed size."""
    e = load(spark, sf_dir, "events")
    mid = e.agg(
        (
            F.min(F.unix_micros("ts"))
            + F.floor(
                (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
                / 2
            )
        ).cast("long").alias("mid_us")
    )
    halves = e.crossJoin(F.broadcast(mid)).select(
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        F.when(F.unix_micros("ts") < F.col("mid_us"), "early")
        .otherwise("late")
        .alias("half"),
    )
    bins = halves.groupBy("cents").agg(
        F.sum(F.when(F.col("half") == "early", 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("half") == "late", 1).otherwise(0))
        .cast("long")
        .alias("b"),
    ).localCheckpoint(eager=False)
    # ^ r14: bins (value-domain bounded) feeds the totals AND the CDF
    # walk — unpinned, the events binning pass ran twice (guide §3.3).
    tot = bins.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
    )
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = bins.crossJoin(F.broadcast(tot)).select(
        (
            F.sum("a").over(w) * 1.0 / F.col("n_a")
            - F.sum("b").over(w) * 1.0 / F.col("n_b")
        ).alias("diff"),
        "n_a",
        "n_b",
    )
    crit = 1.358 * F.sqrt(
        (F.max("n_a") + F.max("n_b")) * 1.0 / (F.max("n_a") * F.max("n_b"))
    )
    return cdf.agg(
        F.max("n_a").cast("long").alias("n_early"),
        F.max("n_b").cast("long").alias("n_late"),
        F.round(F.max(F.abs(F.col("diff"))), 6).alias("ks_d"),
        F.round(crit, 6).alias("crit_05"),
        F.when(F.max(F.abs(F.col("diff"))) > crit, 1)
        .otherwise(0)
        .cast("int")
        .alias("drifted"),
    )


_HW_M = 7  # weekly seasonality


@query(
    "daily_value_holt_winters",
    oracle=f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT strftime(ts, '%Y-%m-%d') AS d, round(sum(value), 4) AS v
      FROM events GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT d, v, row_number() OVER (ORDER BY d) AS i FROM daily
    ),
    arr AS MATERIALIZED (
      SELECT list(v ORDER BY d) AS ys, list(d ORDER BY d) AS ds FROM daily
    ),
    init AS MATERIALIZED (
      SELECT list_reduce(list_slice(ys, 1, {_HW_M}),
                         (a, b) -> a + b) / {_HW_M}.0 AS l0,
             ys, ds
      FROM arr
    ),
    hw(i, l, b, s) AS (
      SELECT {_HW_M}, l0, CAST(0.0 AS DOUBLE),
             list_transform(list_slice(ys, 1, {_HW_M}), y -> y - l0)
      FROM init
      UNION ALL
      SELECT hw.i + 1,
        0.3::DOUBLE * (init.ys[hw.i + 1] - hw.s[1])
          + 0.7::DOUBLE * (hw.l + hw.b),
        0.2::DOUBLE * ((0.3::DOUBLE * (init.ys[hw.i + 1] - hw.s[1])
                        + 0.7::DOUBLE * (hw.l + hw.b)) - hw.l)
          + 0.8::DOUBLE * hw.b,
        list_append(list_slice(hw.s, 2, {_HW_M}),
          0.1::DOUBLE * (init.ys[hw.i + 1]
                         - (0.3::DOUBLE * (init.ys[hw.i + 1] - hw.s[1])
                            + 0.7::DOUBLE * (hw.l + hw.b)))
            + 0.9::DOUBLE * hw.s[1])
      FROM hw, init WHERE hw.i < len(init.ys)
    )
    SELECT init.ds[hw.i] AS d,
           init.ys[hw.i] AS actual,
           round(hw.l, 6) AS level,
           round(hw.b, 6) AS trend,
           round(hw.s[{_HW_M}], 6) AS seasonal,
           round(prev.l + prev.b + prev.s[1], 6) AS forecast,
           round(init.ys[hw.i]
                 - round(prev.l + prev.b + prev.s[1], 6), 6) AS residual
    FROM hw JOIN hw prev ON prev.i = hw.i - 1
    CROSS JOIN init
    WHERE hw.i > {_HW_M}
    """,
)
def daily_value_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters triple exponential smoothing (Winters
    1960, public method; alpha=0.3, beta=0.2, gamma=0.1, weekly
    m={_HW_M}) of the daily value series — the seasonality-aware top
    of the forecasting ladder (`daily_value_ewma` -> level,
    `daily_value_holt` -> +trend, this -> +day-of-week cycle), with
    one-step forecasts l+b+s and residuals from day m+1 on. Init is
    the standard first-cycle recipe: l0 = mean of the first week,
    b0 = 0, s_i = y_i - l0.

    Parity: the (l, b, s[1..m]) state rides a LINEAR recursive CTE
    in DuckDB (LIST-state recursion is exact there — only
    STRUCT-state list_reduce is broken, see daily_value_holt) while
    Spark evaluates identical left-to-right arithmetic as per-prefix
    aggregate() folds with an (l, b, s-array) struct accumulator;
    the first-week mean is an explicit left-fold on both engines so
    even the init is bit-identical.

    Scale: one map-side-combinable day rollup; the per-prefix folds
    run over the CALENDAR-BOUNDED day array on a 1-row broadcast —
    same boundedness as daily_value_holt."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("v")
    )
    idx = daily.withColumn("i", F.row_number().over(Window.orderBy("d")))
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "v"))).alias("arr")
    ).select(F.expr("transform(arr, s -> s.v)").alias("vs"))
    m = _HW_M
    l0 = f"aggregate(slice(vs, 1, {m}), 0D, (a, x) -> a + x) / {m}.0"
    init_state = (
        f"named_struct('l', {l0}, 'b', 0.0D, "
        f"'s', transform(slice(vs, 1, {m}), y -> y - ({l0})))"
    )
    new_l = "0.3D * (x - acc.s[0]) + 0.7D * (acc.l + acc.b)"
    fold = (
        f"aggregate(slice(vs, {m} + 1, {{n}}), {init_state}, "
        "(acc, x) -> named_struct("
        f"'l', {new_l}, "
        f"'b', 0.2D * (({new_l}) - acc.l) + 0.8D * acc.b, "
        f"'s', concat(slice(acc.s, 2, {m} - 1), "
        f"array(0.1D * (x - ({new_l})) + 0.9D * acc.s[0]))))"
    )
    cur = F.expr(fold.format(n=f"i - {m}"))
    prev = F.expr(fold.format(n=f"i - {m} - 1"))
    fc = F.round(prev["l"] + prev["b"] + F.expr("element_at({0}.s, 1)".format(
        fold.format(n=f"i - {m} - 1"))), 6)
    st = idx.crossJoin(F.broadcast(series)).filter(F.col("i") > m)
    return st.select(
        "d",
        F.col("v").alias("actual"),
        F.round(cur["l"], 6).alias("level"),
        F.round(cur["b"], 6).alias("trend"),
        F.round(F.element_at(cur["s"], m), 6).alias("seasonal"),
        fc.alias("forecast"),
        F.round(F.col("v") - fc, 6).alias("residual"),
    )


@query(
    "nelson_aalen_hazard",
    oracle=f"""
    WITH u AS (
      SELECT user_id, min(ts) AS f,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp
      FROM events GROUP BY 1
    ),
    m AS (SELECT max(ts) AS mx FROM events),
    subj AS (
      SELECT (epoch_us(fp) - epoch_us(f)) // 3600000000 AS dur_h,
             least({_KM_HORIZON_H},
                   (epoch_us(m.mx) - epoch_us(f)) // 3600000000) AS cens_h
      FROM u CROSS JOIN m
    ),
    obs AS (
      SELECT CASE WHEN dur_h IS NOT NULL AND dur_h <= cens_h
                  THEN dur_h ELSE cens_h END AS t_hours,
             CASE WHEN dur_h IS NOT NULL AND dur_h <= cens_h
                  THEN 1 ELSE 0 END AS ev
      FROM subj
    ),
    tbl AS (
      SELECT t_hours,
             CAST(sum(ev) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_total
      FROM obs GROUP BY 1
    ),
    risk AS (
      SELECT t_hours, n_events,
             CAST(sum(n_total) OVER (ORDER BY t_hours DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_at_risk
      FROM tbl
    )
    SELECT t_hours, n_at_risk, n_events,
           round(sum(n_events * 1.0 / n_at_risk)
                 OVER (ORDER BY t_hours
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS cum_hazard
    FROM risk WHERE n_events > 0
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard estimator (Nelson 1972 / Aalen
    1978, public method) over the same censored time-to-first-purchase
    subjects as `km_time_to_purchase` (shared `_km_subjects`
    contract): H(t) = sum_{{s<=t}} d_s/n_s over event times — the
    additive companion to KM's product-limit S(t) (exp(-H) ~ S), and
    the quantity whose slope reads as the instantaneous conversion
    hazard. Same parity mechanics as KM: integer life table, ordered
    cumulative window over the horizon-bounded event times."""
    e = load(spark, sf_dir, "events")
    obs = _km_subjects(e)
    tbl = obs.groupBy(F.col("t").alias("t_hours")).agg(
        F.sum("ev").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    w_desc = Window.orderBy(F.desc("t_hours")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = tbl.select(
        "t_hours",
        "n_events",
        F.sum("n_total").over(w_desc).cast("long").alias("n_at_risk"),
    )
    w_asc = Window.orderBy("t_hours").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        risk.withColumn(
            "cum_hazard",
            F.round(
                F.sum(
                    F.col("n_events") * 1.0 / F.col("n_at_risk")
                ).over(w_asc),
                6,
            ),
        )
        .filter(F.col("n_events") > 0)
        .select("t_hours", "n_at_risk", "n_events", "cum_hazard")
    )


@query(
    "purchase_rate_wilson_ci",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS k
      FROM events
    )
    SELECT n, k,
           round(k * 1.0 / n, 6) AS rate,
           round((k * 1.0 / n + 1.9599639845400545 * 1.9599639845400545
                    / (2.0 * n)
                  - 1.9599639845400545
                    * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                           + 1.9599639845400545 * 1.9599639845400545
                             / (4.0 * n * n)))
                 / (1 + 1.9599639845400545 * 1.9599639845400545 / n), 6)
             AS ci_lo,
           round((k * 1.0 / n + 1.9599639845400545 * 1.9599639845400545
                    / (2.0 * n)
                  + 1.9599639845400545
                    * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                           + 1.9599639845400545 * 1.9599639845400545
                             / (4.0 * n * n)))
                 / (1 + 1.9599639845400545 * 1.9599639845400545 / n), 6)
             AS ci_hi
    FROM s
    """,
)
def purchase_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (Wilson 1927, public method) for the
    purchase share of events at 95% — the small-sample-safe rate CI
    that never leaves [0, 1] (unlike the Wald interval) and stays
    sane at k=0 or k=n, which is why rate dashboards standardize on
    it. The z=1.96 literal is written to full double precision
    identically on both engines; everything else is scalar algebra
    over two exact integers, so parity is structural. Complements
    `purchase_mean_bootstrap_ci` (mean of a continuous metric) and
    `ab_test_proportions` (two-sample comparison).

    Scale: one map-side-combinable scan into a 1-row aggregate."""
    z = 1.9599639845400545
    e = load(spark, sf_dir, "events")
    s = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    p = F.col("k") * 1.0 / F.col("n")
    half = z * F.sqrt(
        p * (1 - p) / F.col("n") + z * z / (4.0 * F.col("n") * F.col("n"))
    )
    center = p + z * z / (2.0 * F.col("n"))
    denom = 1 + z * z / F.col("n")
    return s.select(
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Round 8: KMV sketch set operations + lead-lag cross-correlation
# ---------------------------------------------------------------------------

_KMV_SET_K = 256  # larger k than the per-type sketch: set-op estimates
                  # compound two sketches' error, so buy rse ~ 1/sqrt(k)


@query(
    "kmv_set_operations",
    oracle=f"""
    WITH ha AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               ::BIGINT AS h
      FROM events WHERE event_type = 'purchase'
    ),
    hb AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               ::BIGINT AS h
      FROM events WHERE event_type = 'click'
    ),
    ka AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_SET_K}),
    kb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_SET_K}),
    ku AS (
      SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
      ORDER BY h LIMIT {_KMV_SET_K}
    ),
    sa AS (SELECT count(*) AS n, max(h) AS mx FROM ka),
    sb AS (SELECT count(*) AS n, max(h) AS mx FROM kb),
    su AS (SELECT count(*) AS n, max(h) AS mx FROM ku),
    si AS (
      SELECT count(*) AS n FROM ku
      WHERE EXISTS (SELECT 1 FROM ka WHERE ka.h = ku.h)
        AND EXISTS (SELECT 1 FROM kb WHERE kb.h = ku.h)
    )
    SELECT
      round(CASE WHEN sa.n < {_KMV_SET_K} THEN CAST(sa.n AS DOUBLE)
                 ELSE {float(_KMV_SET_K - 1)}
                      / (CAST(sa.mx AS DOUBLE) / 4294967296.0) END, 4)
        AS est_purchasers,
      round(CASE WHEN sb.n < {_KMV_SET_K} THEN CAST(sb.n AS DOUBLE)
                 ELSE {float(_KMV_SET_K - 1)}
                      / (CAST(sb.mx AS DOUBLE) / 4294967296.0) END, 4)
        AS est_clickers,
      round(CASE WHEN su.n < {_KMV_SET_K} THEN CAST(su.n AS DOUBLE)
                 ELSE {float(_KMV_SET_K - 1)}
                      / (CAST(su.mx AS DOUBLE) / 4294967296.0) END, 4)
        AS est_union,
      round((CAST(si.n AS DOUBLE) / su.n)
            * CASE WHEN su.n < {_KMV_SET_K} THEN CAST(su.n AS DOUBLE)
                   ELSE {float(_KMV_SET_K - 1)}
                        / (CAST(su.mx AS DOUBLE) / 4294967296.0) END, 4)
        AS est_intersection,
      round(CAST(si.n AS DOUBLE) / su.n, 6) AS est_jaccard
    FROM sa, sb, su, si
    """,
)
def kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based SET OPERATIONS between the purchaser and clicker
    user sets (Beyer et al. 2007, "On Synopses for Distinct-Value
    Estimation under Multiset Operations", public method): two
    bottom-k (KMV) sketches support union, intersection, and Jaccard
    estimates WITHOUT a second pass — the sketch algebra a warehouse
    runs when the exact `purchaser_clicker_sets` intersect/except is
    too expensive across many segment pairs. Union sketch = bottom-k
    of the merged sketches (its own KMV estimate); intersection via
    the ratio estimator rho = |K_union ∩ A ∩ B| / |K_union|, scaled
    by the union estimate; Jaccard = rho itself.

    Parity: hashes, bottom-k cuts, and membership counts are exact
    integers on both engines (the portable 32-bit hash domain — see
    approx_distinct_users' documented cardinality ceiling); only the
    two final divisions are floats, rounded identically. Accuracy vs
    the exact set sizes is pinned in test_extensions
    (rse ~ 1/sqrt(k), k=_KMV_SET_K=256).

    Scale: two distinct-hash aggregates over the filtered scans, then
    every sketch step is a {_KMV_SET_K}-row TakeOrderedAndProject /
    semi-join — the estimator never touches row-scale data again."""
    from ..util import portable_id_hash

    e = load(spark, sf_dir, "events")

    def sketch(ev_type: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == ev_type)
            .select(portable_id_hash(F.col("user_id")).alias("h"))
            .distinct()
            .orderBy("h")
            .limit(_KMV_SET_K)
        )

    ka = sketch("purchase").localCheckpoint(eager=False)
    kb = sketch("click").localCheckpoint(eager=False)
    ku = (
        ka.unionByName(kb).distinct().orderBy("h").limit(_KMV_SET_K)
    ).localCheckpoint(eager=False)

    def est(stats_n, stats_mx):
        return F.when(
            stats_n < _KMV_SET_K, stats_n.cast("double")
        ).otherwise(
            F.lit(float(_KMV_SET_K - 1))
            / (stats_mx.cast("double") / F.lit(4294967296.0))
        )

    sa = ka.agg(
        F.count(F.lit(1)).alias("n_a"), F.max("h").alias("mx_a")
    )
    sb = kb.agg(
        F.count(F.lit(1)).alias("n_b"), F.max("h").alias("mx_b")
    )
    su = ku.agg(
        F.count(F.lit(1)).alias("n_u"), F.max("h").alias("mx_u")
    )
    si = (
        ku.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    row = sa.crossJoin(sb).crossJoin(su).crossJoin(si)
    e_u = est(F.col("n_u"), F.col("mx_u"))
    return row.select(
        F.round(est(F.col("n_a"), F.col("mx_a")), 4).alias("est_purchasers"),
        F.round(est(F.col("n_b"), F.col("mx_b")), 4).alias("est_clickers"),
        F.round(e_u, 4).alias("est_union"),
        F.round(
            (F.col("n_i").cast("double") / F.col("n_u")) * e_u, 4
        ).alias("est_intersection"),
        F.round(F.col("n_i").cast("double") / F.col("n_u"), 6).alias(
            "est_jaccard"
        ),
    )


_XCORR_MAX_LAG = 3


@query(
    "event_type_lead_lag",
    oracle=f"""
    WITH d0 AS (
      SELECT CAST(ts AS DATE) AS d, event_type,
             round(sum(value), 4) AS v
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, v,
             datediff('day', min(d) OVER (), d) AS i
      FROM d0
    ),
    x AS (SELECT i, v FROM idx WHERE event_type = 'click'),
    y AS (SELECT i, v FROM idx WHERE event_type = 'purchase'),
    lags AS (
      SELECT unnest(range(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG} + 1)) AS lag
    ),
    pairs AS (
      SELECT l.lag, x.v AS xv, y.v AS yv
      FROM lags l
      CROSS JOIN x
      JOIN y ON y.i = x.i + l.lag
    ),
    mo AS (
      SELECT lag,
             CAST(count(*) AS BIGINT) AS n,
             round(sum(xv), 4) AS sx, round(sum(yv), 4) AS sy,
             round(sum(xv * yv), 4) AS sxy,
             round(sum(xv * xv), 4) AS sxx,
             round(sum(yv * yv), 4) AS syy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n,
           CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) <= 0
                THEN NULL
                ELSE round((n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS xcorr
    FROM mo
    """,
)
def event_type_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag CROSS-correlation between the click and purchase
    daily value series (the sample cross-correlation function of Box
    & Jenkins, public method), lags -3..+3:
    corr(click_t, purchase_t+lag) — positive-lag peaks mean clicks
    LEAD purchases by that many days, the standard
    marketing-attribution / demand-forecast readout. The multivariate
    companion to `event_type_dtw` (alignment distance) and
    `daily_value_ewma` (single-series smoothing).

    Cross-engine float parity: the repo's rounded-sufficient-statistic
    convention — per-lag counts plus 4dp-rounded sums of x, y, xy, x²,
    y², with the correlation derived by SCALAR algebra from those six
    numbers, so float-sum order can't leak in; degenerate variances
    yield NULL identically.

    Scale: one (day, type) rollup over the filtered scan; the lag
    join and moment aggregates run on the CALENDAR-BOUNDED day table
    x 7 lags — driver trivia at any corpus
    size."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    d0 = e.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    idx = d0.select(
        "event_type",
        "v",
        F.datediff("d", F.min("d").over(Window.partitionBy())).alias("i"),
    ).localCheckpoint(eager=False)
    x = idx.filter(F.col("event_type") == "click").select(
        F.col("i").alias("xi"), F.col("v").alias("xv")
    )
    y = idx.filter(F.col("event_type") == "purchase").select(
        F.col("i").alias("yi"), F.col("v").alias("yv")
    )
    lags = spark.range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = (
        x.crossJoin(F.broadcast(lags))
        .withColumn("j", F.col("xi") + F.col("lag"))
        .join(y, F.col("j") == F.col("yi"))
    )
    mo = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("xv"), 4).alias("sx"),
        F.round(F.sum("yv"), 4).alias("sy"),
        F.round(F.sum(F.col("xv") * F.col("yv")), 4).alias("sxy"),
        F.round(F.sum(F.col("xv") * F.col("xv")), 4).alias("sxx"),
        F.round(F.sum(F.col("yv") * F.col("yv")), 4).alias("syy"),
    )
    den = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return mo.select(
        F.col("lag").cast("int").alias("lag"),
        "n",
        F.when(den <= 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.sqrt(den),
                6,
            )
        )
        .alias("xcorr"),
    )


# ---------------------------------------------------------------------------
# Round 8: Markov removal-effect attribution
# ---------------------------------------------------------------------------

_MK_ROUNDS = 16
_MK_CHANNELS = ("click", "error", "signup", "view")  # non-conversion types


def _markov_attr_oracle_sql() -> str:
    chan_list = ", ".join(f"'{c}'" for c in _MK_CHANNELS)
    variants = " UNION ALL ".join(
        ["SELECT 'none' AS variant"]
        + [f"SELECT '{c}'" for c in _MK_CHANNELS]
    )
    rounds = []
    for t in range(_MK_ROUNDS):
        rounds.append(
            f"""v{t + 1} AS MATERIALIZED (
      SELECT s.variant, s.state,
             CAST(CASE WHEN s.state = 'CONV' THEN 1.0
                  WHEN s.state = 'NULL' THEN 0.0
                  ELSE round(coalesce(sum(tr.p * v.val),
                                      CAST(0 AS DECIMAL(18, 9))), 9)
             END AS DECIMAL(18, 9)) AS val
      FROM states s
      LEFT JOIN trans tr ON tr.variant = s.variant AND tr.f = s.state
      LEFT JOIN v{t} v ON v.variant = tr.variant AND v.state = tr.t
      GROUP BY s.variant, s.state
    )"""
        )
    rounds_sql = ",\n    ".join(rounds)
    return (
        f"""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    firstp AS (
      SELECT user_id, min(rn) AS prn FROM seq
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    path AS (
      SELECT s.user_id, s.rn,
             CASE WHEN s.event_type = 'purchase' THEN 'CONV'
                  ELSE s.event_type END AS state,
             f.prn
      FROM seq s LEFT JOIN firstp f USING (user_id)
      WHERE f.prn IS NULL OR s.rn <= f.prn
    ),
    steps AS (
      SELECT user_id, state,
             coalesce(lag(state) OVER (PARTITION BY user_id ORDER BY rn),
                      'START') AS prev,
             rn,
             max(rn) OVER (PARTITION BY user_id) AS last_rn
      FROM path
    ),
    raw AS (
      SELECT prev AS f, state AS t FROM steps
      UNION ALL
      SELECT state, 'NULL' FROM steps
      WHERE rn = last_rn AND state <> 'CONV'
    ),
    cnt AS (SELECT f, t, count(*) AS n FROM raw GROUP BY f, t),
    base AS (
      SELECT f, t,
             CAST(round(n * 1.0 / sum(n) OVER (PARTITION BY f), 9)
                  AS DECIMAL(18, 9)) AS p
      FROM cnt
    ),
    variants AS ({variants}),
    trans AS MATERIALIZED (
      SELECT variant, f,
             CASE WHEN t = variant THEN 'NULL' ELSE t END AS t,
             CAST(round(sum(p), 9) AS DECIMAL(18, 9)) AS p
      FROM variants CROSS JOIN base
      GROUP BY 1, 2, 3
    ),
    states AS MATERIALIZED (
      SELECT DISTINCT variant, state FROM (
        SELECT variant, f AS state FROM trans
        UNION SELECT variant, t FROM trans
        UNION SELECT variant, 'START' FROM variants
        UNION SELECT variant, 'CONV' FROM variants
        UNION SELECT variant, 'NULL' FROM variants
      )
    ),
    v0 AS MATERIALIZED (
      SELECT variant, state,
             CAST(CASE WHEN state = 'CONV' THEN 1.0 ELSE 0.0 END
                  AS DECIMAL(18, 9)) AS val
      FROM states
    ),
    {rounds_sql},
    pconv AS (
      SELECT variant, CAST(val AS DOUBLE) AS val
      FROM v{_MK_ROUNDS} WHERE state = 'START'
    ),
    re AS (
      SELECT c.variant AS channel,
             round(greatest(0.0, 1.0 - c.val / nullif(b.val, 0)), 6)
               AS removal_effect
      FROM pconv c CROSS JOIN (SELECT val FROM pconv
                               WHERE variant = 'none') b
      WHERE c.variant IN ({chan_list})
    )
    SELECT channel, removal_effect,
           CASE WHEN sum(removal_effect) OVER () = 0 THEN NULL
                ELSE round(removal_effect
                           / sum(removal_effect) OVER (), 6)
           END AS attribution_share
    FROM re
    """
    )


@query("markov_attribution", oracle=_markov_attr_oracle_sql())
def markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution (Anderl et al. 2014,
    'Mapping the Customer Journey' — the data-driven alternative to
    rule-based last-click/linear attribution, public method): model
    user journeys (event sequences truncated at first purchase) as a
    first-order Markov chain with START / CONV / NULL absorbing
    states, compute the conversion (absorption) probability from
    START, then for each channel redirect its INBOUND transitions to
    NULL and re-absorb — the channel's removal effect is the relative
    conversion drop, normalized into attribution shares. Completes
    the attribution family: `click_attribution` (last-touch) and
    `attribution_linear` (position-agnostic) are the rule-based
    baselines this replaces.

    Execution split: ALL event-scale work is one distributed
    user-keyed window pass (sequence + first-purchase truncation +
    transition counts). The chain itself is EVENT-TYPE-BOUNDED
    (~7 states x ~5 removal variants, tens of probabilities), so the
    {_MK_ROUNDS}-round value iteration runs DRIVER-SIDE on the
    collected matrix — the bounded-collect model-fit stance of
    doc_topic_clusters' centroid rounds; a Spark-iterated version
    measured ~1 s of scheduler floor PER ROUND on local[32] for
    35-row joins (16 s total) vs milliseconds here, and on a real
    cluster the constant-size solve is equally driver-trivia.

    Float parity: transition probabilities are Spark-rounded to 9dp
    BEFORE collection; the driver-side value iteration then runs in
    EXACT decimal arithmetic (every p and val is a 9dp decimal, so
    products and sums are exact and the accumulation is
    order-INDEPENDENT), rounding each state's new value to 9dp
    HALF_UP; the DuckDB twin computes the identical unrolled rounds
    in DECIMAL(18, 9) (exact decimal sums, round half away from zero
    on non-negative values = HALF_UP), so both engines walk one
    fixed-point lattice with no float-summation-order hazard
    (r8 ADVICE: a last-ulp double difference could otherwise flip the
    9dp round and compound over the rounds x variants)."""
    from decimal import ROUND_HALF_UP, Decimal

    _Q9 = Decimal(1).scaleb(-9)

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    firstp = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    path = (
        seq.join(firstp, "user_id", "left")
        .filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
        .select(
            "user_id",
            "rn",
            F.when(F.col("event_type") == "purchase", "CONV")
            .otherwise(F.col("event_type"))
            .alias("state"),
        )
    )
    wp = Window.partitionBy("user_id").orderBy("rn")
    wu = Window.partitionBy("user_id")
    steps = path.select(
        "state",
        F.coalesce(F.lag("state").over(wp), F.lit("START")).alias("prev"),
        "rn",
        F.max("rn").over(wu).alias("last_rn"),
    )
    raw = steps.select(
        F.col("prev").alias("f"), F.col("state").alias("t")
    ).unionByName(
        steps.filter(
            (F.col("rn") == F.col("last_rn")) & (F.col("state") != "CONV")
        ).select(F.col("state").alias("f"), F.lit("NULL").alias("t"))
    )
    cnt = raw.groupBy("f", "t").agg(F.count(F.lit(1)).alias("n"))
    # event-type-bounded INVARIANT, asserted (not just commented): the
    # chain has one row per (from, to) state pair, |states|² at most.
    # On a channel vocabulary that isn't event-type-shaped the
    # driver-side value iteration would silently become unbounded —
    # fail loudly instead so the caller knows to bucket channels first.
    base_rows = bounded_collect(
        cnt.select(
            "f",
            "t",
            F.round(
                F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("f")),
                9,
            ).alias("p"),
        ),
        DRIVER_SOLVE_LIMIT,
        "markov_attribution: transition matrix (bucket the channel "
        "vocabulary first)",
    )

    out_rows = []
    variants = ["none"] + list(_MK_CHANNELS)
    pconv: dict[str, float] = {}
    D0, D1 = Decimal(0), Decimal(1)
    for variant in variants:
        # redirect transitions INTO the removed channel to NULL and
        # re-aggregate — exact decimal sums of 9dp decimals, so the
        # merge (and every accumulation below) is order-independent
        trans: dict[str, dict[str, Decimal]] = {}
        for r in base_rows:
            t = "NULL" if r.t == variant else r.t
            trans.setdefault(r.f, {})
            trans[r.f][t] = trans[r.f].get(t, D0) + Decimal(repr(r.p))
        states = {"START", "CONV", "NULL"}
        for f, ts in trans.items():
            states.add(f)
            states.update(ts)
        val = {s: (D1 if s == "CONV" else D0) for s in states}
        for _ in range(_MK_ROUNDS):
            nxt = {}
            for s in states:
                if s == "CONV":
                    nxt[s] = D1
                elif s == "NULL":
                    nxt[s] = D0
                else:
                    acc = D0
                    for t in trans.get(s, {}):
                        acc += trans[s][t] * val[t]
                    nxt[s] = acc.quantize(_Q9, rounding=ROUND_HALF_UP)
            val = nxt
        pconv[variant] = float(val.get("START", D0))

    base_p = pconv["none"]
    res = []
    for c in _MK_CHANNELS:
        re_c = (
            round_half_up(max(0.0, 1.0 - pconv[c] / base_p), 6)
            if base_p
            else None
        )
        res.append((c, re_c))
    tot = sum(r for _, r in res if r is not None)
    out_rows = [
        (
            c,
            re_c,
            round_half_up(re_c / tot, 6)
            if (re_c is not None and tot)
            else None,
        )
        for c, re_c in res
    ]
    return spark.createDataFrame(
        out_rows,
        "channel string, removal_effect double, attribution_share double",
    )


# ---------------------------------------------------------------------------
# Round 9: seasonality strength (variance explained by calendar profile)
# ---------------------------------------------------------------------------

def _season_oracle_dim(dim_name: str, bucket_sql: str) -> str:
    return f"""
    SELECT '{dim_name}' AS dimension,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CASE WHEN CAST(q_tot AS DOUBLE)
                     - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                       / CAST(n_tot AS DOUBLE) = 0 THEN NULL
                ELSE round(
                  (CAST(b_tot AS DOUBLE)
                   - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                     / CAST(n_tot AS DOUBLE))
                / (CAST(q_tot AS DOUBLE)
                   - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)
                     / CAST(n_tot AS DOUBLE)), 6)
           END AS strength,
           CAST(b AS INT) AS peak_bucket,
           round(CAST(s AS DOUBLE) / CAST(s_tot AS DOUBLE), 6)
             AS peak_share
    FROM (
      SELECT b, n, s,
             count(*) OVER () AS n_buckets,
             sum(n) OVER () AS n_tot,
             sum(s) OVER () AS s_tot,
             sum(q) OVER () AS q_tot,
             sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 4)
                      AS DECIMAL(28, 4))) OVER () AS b_tot,
             row_number() OVER (
               ORDER BY CAST(s AS DOUBLE) / n DESC, b) AS r
      FROM (
        SELECT {bucket_sql} AS b,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
               sum(CAST(round(value * 100, 0) AS BIGINT)
                   * CAST(round(value * 100, 0) AS BIGINT)) AS q
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
      )
    ) WHERE r = 1"""


@query(
    "seasonal_strength_report",
    oracle=(
        _season_oracle_dim(
            "hour_of_day", "CAST(strftime(ts, '%H') AS INT)"
        )
        + "\n    UNION ALL\n"
        + _season_oracle_dim(
            "day_of_week", "CAST(strftime(ts, '%w') AS INT) + 1"
        )
    ),
)
def seasonal_strength_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength of event VALUE along calendar dimensions
    (hour-of-day, day-of-week): the share of total variance explained
    by the per-bucket means — SS_between / SS_total, the eta-squared
    of a one-way layout (Hyndman & Athanasopoulos FPP3 define
    seasonal strength the same way on the decomposition components,
    public method). strength ~ 0 means the calendar profile is flat
    (drop the feature); ~ 1 means value is almost a pure calendar
    function. Each dimension also reports its peak bucket and the
    peak's share of total value.

    Float parity stance (the verify-skill sufficient-statistic rule):
    values are 2dp, so cents = round(value*100) is an exact integer;
    per-bucket n / sum(cents) / sum(cents²) accumulate as exact
    integers (decimal sums, overflow-proof); the only float sum —
    SS_between's <= 24 per-bucket terms — is rounded to 4dp and
    summed in DECIMAL(28,4), so no accumulation order can flip a
    digit. All remaining arithmetic is scalar IEEE on identical
    inputs.

    Scale: one map-side-combinable groupBy per dimension (24- and
    7-row outputs); the windows run on those bounded tables, never
    the event stream."""
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())

    def dim_report(dim_name: str, bucket: F.Column) -> DataFrame:
        c = F.round(F.col("value") * 100, 0).cast("long")
        g = e.select(bucket.alias("b"), c.alias("c")).groupBy("b").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")).alias(
                "q"
            ),
        )
        w = Window.partitionBy()
        term = F.round(
            F.col("s").cast("double") * F.col("s").cast("double")
            / F.col("n"),
            4,
        ).cast("decimal(28,4)")
        ranked = g.select(
            "b", "n", "s",
            F.sum("n").over(w).alias("n_tot"),
            F.sum("s").over(w).alias("s_tot"),
            F.sum("q").over(w).alias("q_tot"),
            F.sum(term).over(w).alias("b_tot"),
            F.count(F.lit(1)).over(w).alias("n_buckets"),
            F.row_number()
            .over(
                Window.orderBy(
                    (F.col("s").cast("double") / F.col("n")).desc(), "b"
                )
            )
            .alias("r"),
        ).filter(F.col("r") == 1)
        s2n = (
            F.col("s_tot").cast("double")
            * F.col("s_tot").cast("double")
            / F.col("n_tot").cast("double")
        )
        ss_tot = F.col("q_tot").cast("double") - s2n
        return ranked.select(
            F.lit(dim_name).alias("dimension"),
            F.col("n_buckets").cast("long").alias("n_buckets"),
            F.when(ss_tot == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round((F.col("b_tot").cast("double") - s2n) / ss_tot, 6)
            )
            .alias("strength"),
            F.col("b").cast("int").alias("peak_bucket"),
            F.round(
                F.col("s").cast("double") / F.col("s_tot").cast("double"), 6
            ).alias("peak_share"),
        )

    return dim_report("hour_of_day", F.hour("ts")).unionByName(
        dim_report("day_of_week", F.dayofweek("ts"))
    )


# ---------------------------------------------------------------------------
# Round 9: Shapley-value attribution (game-theoretic, exact over the
# channel-subset lattice)
# ---------------------------------------------------------------------------


def _shapley_weight_str(pc: int, n: int) -> str:
    """s!(n-1-s)!/n! as a 12dp decimal string (HALF_UP), interpolated
    VERBATIM as the weight literal into BOTH engines so the lattice
    weights are bit-identical (1/12-style fractions do not terminate
    in decimal; sharing one rounded literal kills the hazard)."""
    from decimal import ROUND_HALF_UP, Decimal
    from math import factorial

    w = Decimal(factorial(pc) * factorial(n - 1 - pc)) / Decimal(
        factorial(n)
    )
    return str(w.quantize(Decimal(1).scaleb(-12), rounding=ROUND_HALF_UP))


def _shapley_attr_oracle_sql() -> str:
    n = len(_MK_CHANNELS)
    chan_list = ", ".join(f"'{c}'" for c in _MK_CHANNELS)
    bit_case = " ".join(
        f"WHEN '{c}' THEN {1 << i}" for i, c in enumerate(_MK_CHANNELS)
    )
    chan_values = ", ".join(
        f"('{c}', {i})" for i, c in enumerate(_MK_CHANNELS)
    )
    pc_expr = " + ".join(f"((m >> {i}) & 1)" for i in range(n))
    w_case = " ".join(
        f"WHEN {pc} THEN CAST('{_shapley_weight_str(pc, n)}'"
        " AS DECIMAL(18,12))"
        for pc in range(n)
    )
    dz = "CAST(0 AS DECIMAL(18,12))"
    return f"""
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    firstp AS (
      SELECT user_id, min(rn) AS prn FROM seq
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touched AS (
      SELECT DISTINCT s.user_id, s.event_type AS channel
      FROM seq s LEFT JOIN firstp f USING (user_id)
      WHERE s.event_type IN ({chan_list})
        AND (f.prn IS NULL OR s.rn < f.prn)
    ),
    tm AS (
      SELECT user_id,
             CAST(sum(CASE channel {bit_case} END) AS BIGINT) AS m
      FROM touched GROUP BY user_id
    ),
    umask AS (
      SELECT u.user_id, coalesce(tm.m, 0) AS m,
             CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS conv
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN tm USING (user_id)
      LEFT JOIN firstp f USING (user_id)
    ),
    vtab AS (
      SELECT m, CAST(round(sum(conv) * 1.0 / count(*), 12)
                     AS DECIMAL(18,12)) AS v
      FROM umask GROUP BY m
    ),
    chans AS (SELECT * FROM (VALUES {chan_values}) AS c(channel, bit)),
    masks AS (
      SELECT CAST(range AS BIGINT) AS m, {pc_expr} AS pc
      FROM range(0, {1 << n})
    ),
    marg AS (
      SELECT c.channel,
             (CASE mk.pc {w_case} END)
               * (coalesce(vw.v, {dz}) - coalesce(vo.v, {dz})) AS a
      FROM chans c
      JOIN masks mk ON ((mk.m >> c.bit) & 1) = 0
      LEFT JOIN vtab vo ON vo.m = mk.m
      LEFT JOIN vtab vw ON vw.m = mk.m + (1 << c.bit)
    ),
    phi AS (SELECT channel, sum(a) AS p FROM marg GROUP BY channel),
    nt AS (
      SELECT channel, CAST(count(*) AS BIGINT) AS n_touched_users
      FROM touched GROUP BY channel
    )
    SELECT p.channel,
           CAST(coalesce(nt.n_touched_users, 0) AS BIGINT)
             AS n_touched_users,
           round(CAST(p.p AS DOUBLE), 9) AS shapley_value,
           CASE WHEN abs(CAST(t.tot AS DOUBLE)) < 1e-9 THEN NULL
                ELSE round(CAST(p.p AS DOUBLE) / CAST(t.tot AS DOUBLE), 6)
           END AS attribution_share
    FROM phi p
    LEFT JOIN nt USING (channel)
    CROSS JOIN (SELECT sum(p) AS tot FROM phi) t
    """


@query("shapley_attribution", oracle=_shapley_attr_oracle_sql())
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value attribution (Shapley 1953; applied to ad/channel
    attribution by Dalessandro et al. 2012 and Zhao, Mahboobi &
    Bagheri 2018 — public methods): each channel's credit is its
    average marginal contribution to conversion over every ordering
    of the channel coalition. Characteristic function v(S) =
    observed conversion rate among users whose PRE-CONVERSION touched
    channel set is exactly S (0 for unobserved sets); journeys
    truncate at first purchase with the same window pass as
    `markov_attribution`, so the family's three data-driven models —
    last-touch (`click_attribution`), position-agnostic
    (`attribution_linear`), removal-effect (`markov_attribution`),
    and this order-averaged one — all read one journey definition.

    EXACT, no sampling: phi_i = sum over subsets S not containing i
    of |S|!(n-1-|S|)!/n! * (v(S+i) - v(S)), evaluated over the full
    2^n mask lattice. n = len(_MK_CHANNELS) is event-type-bounded
    (compile-time 4 here, 16 masks); the lattice is generated
    relationally (range + bit ops) and the whole computation stays
    in DataFrame algebra — no driver-side iteration. A channel
    vocabulary wide enough to make 2^n hostile (n > ~20) needs
    sampled-permutation Shapley instead; this operator's contract is
    the small-n exact form.

    Float parity: v rates are round(conv/tot, 12) on exact BIGINTs ->
    DECIMAL(18,12); lattice weights are shared 12dp decimal string
    literals (see _shapley_weight_str); each addend w * (v(S+i) -
    v(S)) is an EXACT decimal product (scale 24) summed exactly, so
    the only rounding anywhere is the two final display rounds —
    HALF_UP = half-away-from-zero on both engines, signs included.

    Scale: event-scale work is ONE user-keyed window pass plus two
    map-side-combinable keyed aggregates (the markov shape); the
    mask lattice is (2^n x n) rows joined via broadcasts against the
    <= 2^n-row exact-set rate table — bounded algebra, zero shuffles
    beyond the journey aggregation.

    attribution_share is NULL when |sum of Shapley values| < 1e-9: by
    efficiency the total telescopes to v(grand) - v(empty), and when
    that is ~0 the normalized shares are sign-noise (a 1e-12 total
    would print shares of +-1e11) — the markov_attribution zero-sum
    NULL stance, widened to near-zero."""
    n = len(_MK_CHANNELS)
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    # r14: without pinning, the final plan re-derived firstp 2x (via
    # touched and umask), touched 2x (tm and n_touched), vtab 2x
    # (vo/vw) and phi 2x (tot and the output join) — 36 parquet scans
    # of events for a 4-row result (guide §3.3). Lazy localCheckpoints
    # on the per-user tables (user-bounded) and the tiny lattice-side
    # tables pin each event-scale pass to ONE execution: 3 scans.
    firstp = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
        .localCheckpoint(eager=False)
    )
    touched = (
        seq.join(firstp, "user_id", "left")
        .filter(
            F.col("event_type").isin(list(_MK_CHANNELS))
            & (F.col("prn").isNull() | (F.col("rn") < F.col("prn")))
        )
        .select("user_id", F.col("event_type").alias("channel"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    bit_expr = None
    for i, c in enumerate(_MK_CHANNELS):
        clause = (F.col("channel") == c, F.lit(1 << i))
        bit_expr = (
            F.when(*clause) if bit_expr is None else bit_expr.when(*clause)
        )
    tm = touched.groupBy("user_id").agg(
        F.sum(bit_expr).cast("long").alias("m")
    )
    umask = (
        e.select("user_id")
        .distinct()
        .join(tm, "user_id", "left")
        .join(firstp, "user_id", "left")
        .select(
            F.coalesce(F.col("m"), F.lit(0)).alias("m"),
            F.col("prn").isNotNull().cast("int").alias("conv"),
        )
    )
    vtab = umask.groupBy("m").agg(
        F.round(F.sum("conv") * 1.0 / F.count(F.lit(1)), 12)
        .cast("decimal(18,12)")
        .alias("v")
    ).localCheckpoint(eager=False)  # <= 2^n rows; feeds vo AND vw
    chans = spark.createDataFrame(
        [(c, i) for i, c in enumerate(_MK_CHANNELS)],
        "channel string, bit int",
    )
    pc_col = None
    for i in range(n):
        t = F.shiftright(F.col("mk"), i).bitwiseAND(F.lit(1))
        pc_col = t if pc_col is None else pc_col + t
    masks = spark.range(0, 1 << n).select(
        F.col("id").cast("long").alias("mk"), pc_col.cast("int").alias("pc")
    )
    w_col = None
    for pc in range(n):
        lit = F.lit(_shapley_weight_str(pc, n)).cast("decimal(18,12)")
        w_col = (
            F.when(F.col("pc") == pc, lit)
            if w_col is None
            else w_col.when(F.col("pc") == pc, lit)
        )
    lat = (
        F.broadcast(chans)
        .crossJoin(F.broadcast(masks))
        .filter(F.expr("(shiftright(mk, bit) & 1) = 0"))
        .withColumn("mw", F.col("mk") + F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
    )
    vo = vtab.select(F.col("m").alias("mk"), F.col("v").alias("vo"))
    vw = vtab.select(F.col("m").alias("mw"), F.col("v").alias("vw"))
    dz = F.lit("0").cast("decimal(18,12)")
    marg = (
        lat.join(F.broadcast(vo), "mk", "left")
        .join(F.broadcast(vw), "mw", "left")
        .select(
            "channel",
            (
                w_col
                * (F.coalesce(F.col("vw"), dz) - F.coalesce(F.col("vo"), dz))
            ).alias("a"),
        )
    )
    phi = marg.groupBy("channel").agg(F.sum("a").alias("p")).localCheckpoint(
        eager=False
    )  # n rows; feeds tot AND the output join
    tot = phi.agg(F.sum("p").alias("tot"))
    nt = touched.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touched_users")
    )
    return (
        phi.join(F.broadcast(nt), "channel", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "channel",
            F.coalesce(F.col("n_touched_users"), F.lit(0))
            .cast("long")
            .alias("n_touched_users"),
            F.round(F.col("p").cast("double"), 9).alias("shapley_value"),
            F.when(
            F.abs(F.col("tot").cast("double")) < 1e-9,
            F.lit(None).cast("double"),
        )
            .otherwise(
                F.round(
                    F.col("p").cast("double") / F.col("tot").cast("double"),
                    6,
                )
            )
            .alias("attribution_share"),
        )
    )


_UPLIFT_MAX_BUCKET = 12  # engagement-score buckets 0..12


@query(
    "uplift_qini_report",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                       1, 8))::BIGINT % 2 = 0
                  THEN 1 ELSE 0 END AS treated
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    clicks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS nclk
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    per_user AS (
      SELECT a.treated,
             CAST(least(coalesce(c.nclk, 0), {_UPLIFT_MAX_BUCKET})
                  AS INT) AS bucket,
             CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END AS cv
      FROM assign a
      LEFT JOIN clicks c USING (user_id)
      LEFT JOIN conv v ON v.user_id = a.user_id
    ),
    b AS (
      SELECT bucket,
             CAST(sum(treated) AS BIGINT) AS n_t,
             CAST(sum(1 - treated) AS BIGINT) AS n_c,
             CAST(sum(treated * cv) AS BIGINT) AS k_t,
             CAST(sum((1 - treated) * cv) AS BIGINT) AS k_c
      FROM per_user GROUP BY bucket
    ),
    cum AS (
      SELECT bucket, n_t, n_c, k_t, k_c,
             CAST(sum(k_t) OVER w AS BIGINT) AS ck_t,
             CAST(sum(k_c) OVER w AS BIGINT) AS ck_c,
             CAST(sum(n_t) OVER w AS BIGINT) AS cn_t,
             CAST(sum(n_c) OVER w AS BIGINT) AS cn_c
      FROM b
      WINDOW w AS (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(bucket AS INT) AS score_bucket,
           n_t AS n_treated, n_c AS n_control,
           k_t AS conv_treated, k_c AS conv_control,
           CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                ELSE round(k_t * 1.0 / n_t - k_c * 1.0 / n_c, 6)
           END AS uplift,
           CASE WHEN cn_c = 0 THEN NULL
                ELSE round(ck_t - ck_c * 1.0 * cn_t / cn_c, 6)
           END AS cum_qini
    FROM cum
    """,
)
def uplift_qini_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift-by-segment report with a Qini curve (Radcliffe & Surry
    1999; Radcliffe 2007 'Using control groups to target on predicted
    lift' defines the Qini measure — public methods): users are
    hash-split into treated/control (the ab_test_proportions
    assignment), segmented by an engagement score (click count,
    capped at {_UPLIFT_MAX_BUCKET}), and each segment reports its
    incremental conversion rate uplift = rate_treated - rate_control.
    In a REAL experiment the segmentation covariate must be measured
    pre-exposure; this synthetic corpus has no exposure timestamp, so
    the click count stands in as a deterministic proxy (documented
    simplification — swap in a pre-period covariate on real data).
    `cum_qini` walks the Qini curve over segments in DESCENDING score
    order — cumulative treated conversions minus control conversions
    scaled to the treated exposure (ck_t - ck_c * cn_t / cn_c) — the
    number an uplift-targeting policy reads to pick a cutoff.
    Completes the experimentation family: ab_test_{{proportions,
    welch,cuped}} measure the average effect; this localizes WHERE
    the effect concentrates.

    Float parity: all counts are exact BIGINTs; uplift and Qini are
    single-expression double algebra over them, mirrored
    term-for-term (including evaluation order) and rounded to 6dp.

    Scale: one event scan -> per-user keyed aggregates (clicks,
    conversion flag, hash assignment) -> one bucket-keyed aggregate;
    the Qini cumulative window runs on the bounded
    {_UPLIFT_MAX_BUCKET + 1}-row bucket table."""
    from ..util import portable_id_hash

    e = load(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    assign = users.select(
        "user_id",
        (
            F.pmod(portable_id_hash(F.col("user_id").cast("string")), 2) == 0
        )
        .cast("int")
        .alias("treated"),
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("nclk"))
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("cv", F.lit(1))
    )
    per_user = (
        assign.join(clicks, "user_id", "left")
        .join(conv, "user_id", "left")
        .select(
            "treated",
            F.least(
                F.coalesce(F.col("nclk"), F.lit(0)),
                F.lit(_UPLIFT_MAX_BUCKET).cast("long"),
            )
            .cast("int")
            .alias("bucket"),
            F.coalesce(F.col("cv"), F.lit(0)).alias("cv"),
        )
    )
    b = per_user.groupBy("bucket").agg(
        F.sum("treated").cast("long").alias("n_t"),
        F.sum(1 - F.col("treated")).cast("long").alias("n_c"),
        F.sum(F.col("treated") * F.col("cv")).cast("long").alias("k_t"),
        F.sum((1 - F.col("treated")) * F.col("cv"))
        .cast("long")
        .alias("k_c"),
    )
    w = (
        Window.orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = b.select(
        "bucket",
        "n_t",
        "n_c",
        "k_t",
        "k_c",
        F.sum("k_t").over(w).cast("long").alias("ck_t"),
        F.sum("k_c").over(w).cast("long").alias("ck_c"),
        F.sum("n_t").over(w).cast("long").alias("cn_t"),
        F.sum("n_c").over(w).cast("long").alias("cn_c"),
    )
    return cum.select(
        F.col("bucket").cast("int").alias("score_bucket"),
        F.col("n_t").alias("n_treated"),
        F.col("n_c").alias("n_control"),
        F.col("k_t").alias("conv_treated"),
        F.col("k_c").alias("conv_control"),
        F.when(
            (F.col("n_t") == 0) | (F.col("n_c") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.col("k_t") * 1.0 / F.col("n_t")
                - F.col("k_c") * 1.0 / F.col("n_c"),
                6,
            )
        )
        .alias("uplift"),
        F.when(F.col("cn_c") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("ck_t")
                - F.col("ck_c") * 1.0 * F.col("cn_t") / F.col("cn_c"),
                6,
            )
        )
        .alias("cum_qini"),
    )


_SMD_BALANCED = 0.1  # |SMD| threshold (Austin 2009 rule of thumb)


@query(
    "ab_covariate_balance",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                       1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clicks,
             round(sum(coalesce(value, 0)), 6) AS value_sum
      FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(n_events) AS DOUBLE), 4) AS s1,
             round(CAST(sum(n_events * n_events) AS DOUBLE), 4) AS ss1,
             round(CAST(sum(n_clicks) AS DOUBLE), 4) AS s2,
             round(CAST(sum(n_clicks * n_clicks) AS DOUBLE), 4) AS ss2,
             round(sum(value_sum), 4) AS s3,
             round(sum(value_sum * value_sum), 4) AS ss3
      FROM per_user GROUP BY variant
    ),
    long AS (
      SELECT variant, n, 'n_events' AS covariate, s1 AS sx, ss1 AS sxx
      FROM stats
      UNION ALL
      SELECT variant, n, 'n_clicks', s2, ss2 FROM stats
      UNION ALL
      SELECT variant, n, 'value_sum', s3, ss3 FROM stats
    ),
    wide AS (
      SELECT covariate,
             max(CASE WHEN variant = 'A' THEN n END) AS n_a,
             max(CASE WHEN variant = 'B' THEN n END) AS n_b,
             max(CASE WHEN variant = 'A' THEN sx END) AS sx_a,
             max(CASE WHEN variant = 'B' THEN sx END) AS sx_b,
             max(CASE WHEN variant = 'A' THEN sxx END) AS sxx_a,
             max(CASE WHEN variant = 'B' THEN sxx END) AS sxx_b
      FROM long GROUP BY covariate
    )
    SELECT covariate, n_a, n_b,
           round(sx_a / n_a, 6) AS mean_a,
           round(sx_b / n_b, 6) AS mean_b,
           CASE WHEN ((sxx_a - sx_a * sx_a / n_a) / (n_a - 1)
                      + (sxx_b - sx_b * sx_b / n_b) / (n_b - 1)) / 2 <= 0
                THEN NULL
                ELSE round((sx_a / n_a - sx_b / n_b)
                           / sqrt(((sxx_a - sx_a * sx_a / n_a) / (n_a - 1)
                                   + (sxx_b - sx_b * sx_b / n_b)
                                     / (n_b - 1)) / 2), 6)
           END AS smd,
           CASE WHEN ((sxx_a - sx_a * sx_a / n_a) / (n_a - 1)
                      + (sxx_b - sx_b * sx_b / n_b) / (n_b - 1)) / 2 <= 0
                THEN NULL
                ELSE CAST(abs((sx_a / n_a - sx_b / n_b)
                              / sqrt(((sxx_a - sx_a * sx_a / n_a)
                                      / (n_a - 1)
                                      + (sxx_b - sx_b * sx_b / n_b)
                                        / (n_b - 1)) / 2))
                          < {_SMD_BALANCED} AS INT)
           END AS balanced
    FROM wide
    """,
)
def ab_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-balance diagnostics for the hash-split experiment:
    standardized mean difference (SMD = (mean_A - mean_B) / pooled
    SD; Austin 2009's |SMD| < {_SMD_BALANCED} rule — public method)
    for each pre-treatment user covariate (event count, click count,
    value total). A randomization check run BEFORE reading any AB
    result: an imbalanced covariate means the split is confounded
    and ab_test_welch/cuped deltas can't be read causally. (Balance
    checks require PRE-treatment covariates; this corpus has no
    exposure timestamp, so whole-history aggregates stand in — on
    real data restrict the aggregation to the pre-period.) Completes
    the experimentation family's diagnostics side.

    Float parity: the ab_test_cuped rounded-sufficient-statistics
    stance — per-variant n/sum/sum-of-squares rounded to 4dp, all
    downstream algebra mirrored term-for-term on identical doubles;
    the balanced flag compares the UNROUNDED |SMD| on both engines.

    Scale: one user-keyed aggregate over the event scan, one
    variant-keyed reduce (2 rows), then a stack/pivot over the
    bounded covariate table — no second data pass, no joins."""
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("long")
        .alias("n_clicks"),
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias(
            "value_sum"
        ),
    )
    from ..util import portable_id_hash

    stats = per_user.withColumn(
        "variant",
        F.when(
            F.pmod(portable_id_hash(F.col("user_id").cast("string")), 2)
            == 0,
            "A",
        ).otherwise("B"),
    ).groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("n_events").cast("double"), 4).alias("s1"),
        F.round(
            F.sum(F.col("n_events") * F.col("n_events")).cast("double"), 4
        ).alias("ss1"),
        F.round(F.sum("n_clicks").cast("double"), 4).alias("s2"),
        F.round(
            F.sum(F.col("n_clicks") * F.col("n_clicks")).cast("double"), 4
        ).alias("ss2"),
        F.round(F.sum("value_sum"), 4).alias("s3"),
        F.round(F.sum(F.col("value_sum") * F.col("value_sum")), 4).alias(
            "ss3"
        ),
    )
    long = stats.select(
        "variant",
        "n",
        F.expr(
            "stack(3, 'n_events', s1, ss1, 'n_clicks', s2, ss2, "
            "'value_sum', s3, ss3) AS (covariate, sx, sxx)"
        ),
    )
    wide = long.groupBy("covariate").agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "A", F.col("sx"))).alias("sx_a"),
        F.max(F.when(F.col("variant") == "B", F.col("sx"))).alias("sx_b"),
        F.max(F.when(F.col("variant") == "A", F.col("sxx"))).alias("sxx_a"),
        F.max(F.when(F.col("variant") == "B", F.col("sxx"))).alias("sxx_b"),
    )
    var_a = (F.col("sxx_a") - F.col("sx_a") * F.col("sx_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("sxx_b") - F.col("sx_b") * F.col("sx_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    pooled = (var_a + var_b) / 2
    smd = (
        F.col("sx_a") / F.col("n_a") - F.col("sx_b") / F.col("n_b")
    ) / F.sqrt(pooled)
    return wide.select(
        "covariate",
        "n_a",
        "n_b",
        F.round(F.col("sx_a") / F.col("n_a"), 6).alias("mean_a"),
        F.round(F.col("sx_b") / F.col("n_b"), 6).alias("mean_b"),
        F.when(pooled <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(smd, 6))
        .alias("smd"),
        F.when(pooled <= 0, F.lit(None).cast("int"))
        .otherwise((F.abs(smd) < _SMD_BALANCED).cast("int"))
        .alias("balanced"),
    )


# ---------------------------------------------------------------------------
# Rolling-origin forecast backtest (round 10)
# ---------------------------------------------------------------------------


@query(
    "forecast_backtest_mae",
    oracle=f"""
    WITH ewma_q AS (__EWMA_ORACLE__),
    seq AS (
      SELECT d, actual, ewma,
             lag(ewma) OVER (ORDER BY d) AS fc_ewma,
             lag(actual) OVER (ORDER BY d) AS fc_naive,
             row_number() OVER (ORDER BY d) AS i,
             count(*) OVER () AS n
      FROM ewma_q
    )
    SELECT CAST(count(*) AS BIGINT) AS n_eval,
           round(avg(abs(actual - fc_ewma)), 6) AS mae_ewma,
           round(avg(abs(actual - fc_naive)), 6) AS mae_naive,
           round(avg(abs(actual - fc_ewma))
                 / nullif(avg(abs(actual - fc_naive)), 0), 6) AS mase
    FROM seq WHERE i > n / 2
    """,
)
def forecast_backtest_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin one-step forecast backtest (Hyndman &
    Athanasopoulos, public method): because EWMA's one-step-ahead
    forecast for day t IS the smoothed state through t-1, the entire
    backtest is a lag over daily_value_ewma's already-registered
    output — forecast error |v_t - s_{{t-1}}| vs the naive
    random-walk |v_t - v_{{t-1}}|, evaluated on the second half of
    the series (the first half is burn-in), with MASE = MAE_model /
    MAE_naive as the scale-free verdict (< 1 = beats naive).

    Composes the REGISTERED ewma query on both sides (the Spark
    callable and its oracle string), so the two backtests can never
    drift from the forecaster they evaluate.

    Determinism: inputs are the ewma query's 4dp/6dp-rounded grid
    points; errors are differences of grid points; the final MAEs
    average a handful of bounded-magnitude doubles (round-6 safe).

    Scale: everything after the day rollup runs on the calendar-
    bounded daily table."""
    base = daily_value_ewma(spark, sf_dir)
    w = Window.orderBy("d")
    wall = Window.partitionBy()
    seq = base.select(
        "d",
        "actual",
        F.lag("ewma").over(w).alias("fc_ewma"),
        F.lag("actual").over(w).alias("fc_naive"),
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).where(F.col("i") > F.col("n") / 2)
    mae_e = F.avg(F.abs(F.col("actual") - F.col("fc_ewma")))
    mae_n = F.avg(F.abs(F.col("actual") - F.col("fc_naive")))
    return seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.round(mae_e, 6).alias("mae_ewma"),
        F.round(mae_n, 6).alias("mae_naive"),
        F.round(mae_e / F.nullif(mae_n, F.lit(0.0)), 6).alias("mase"),
    )


# Splice the REGISTERED ewma oracle into the backtest oracle so the
# evaluated forecaster and the evaluator share one SQL source.
from .registry import ORACLE as _ORACLE_REG  # noqa: E402

_ORACLE_REG["forecast_backtest_mae"] = _ORACLE_REG[
    "forecast_backtest_mae"
].replace("__EWMA_ORACLE__", _ORACLE_REG["daily_value_ewma"])


# ---------------------------------------------------------------------------
# Inter-arrival burstiness (round 11)
# ---------------------------------------------------------------------------


@query(
    "event_burstiness_by_type",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
             - CAST(floor(epoch(lag(ts) OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY ts, event_id))) AS BIGINT) AS g
      FROM events WHERE ts IS NOT NULL
    ),
    stats AS (
      SELECT event_type,
             CAST(count(g) AS BIGINT) AS n,
             CAST(sum(g) AS BIGINT) AS s,
             CAST(sum(g * g) AS BIGINT) AS ss
      FROM gaps WHERE g IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           round(s * 1.0 / n, 4) AS mean_gap_sec,
           round(sqrt(greatest(ss * 1.0 / n - (s * 1.0 / n) * (s * 1.0 / n),
                 0.0)), 4) AS std_gap_sec,
           round((sqrt(greatest(ss * 1.0 / n
                                - (s * 1.0 / n) * (s * 1.0 / n), 0.0))
                  - s * 1.0 / n)
                 / nullif(sqrt(greatest(ss * 1.0 / n
                                - (s * 1.0 / n) * (s * 1.0 / n), 0.0))
                          + s * 1.0 / n, 0), 6) AS burstiness
    FROM stats
    """,
)
def event_burstiness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event type (Goh & Barabasi 2008,
    public): B = (sigma - mu) / (sigma + mu) over the gaps between a
    user's consecutive events of that type — B = -1 for perfectly
    periodic traffic, ~0 for Poisson, -> 1 for heavy-tailed bursts.
    The traffic-shape readout behind bot detection thresholds and
    capacity planning, complementing user_event_overdispersion's
    count-based dispersion with a TIMING-based one.

    Determinism: gaps are exact integer seconds (epoch difference);
    population sigma/mu derive from exact BIGINT (n, sum, sum-of-
    squares), so both engines do identical scalar algebra; the
    all-identical-gaps edge (sigma + mu = 0 only if every gap is 0)
    is nullif-guarded on both sides.

    Scale: one lag window PARTITIONED by (user, type) riding a single
    user-keyed exchange, then a map-side-combinable per-type
    aggregate. No global windows."""
    e = load(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = e.select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        )
        .cast("long")
        .alias("g"),
    ).where(F.col("g").isNotNull())
    stats = gaps.groupBy("event_type").agg(
        F.count("g").cast("long").alias("n"),
        F.sum("g").cast("long").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("ss"),
    )
    mu = F.col("s") * 1.0 / F.col("n")
    var = F.greatest(
        F.col("ss") * 1.0 / F.col("n") - mu * mu, F.lit(0.0)
    )
    sig = F.sqrt(var)
    return stats.select(
        "event_type",
        "n",
        F.round(mu, 4).alias("mean_gap_sec"),
        F.round(sig, 4).alias("std_gap_sec"),
        F.round(
            (sig - mu) / F.nullif(sig + mu, F.lit(0.0)), 6
        ).alias("burstiness"),
    )
