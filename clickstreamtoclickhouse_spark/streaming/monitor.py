"""Streaming data-quality monitoring: per-micro-batch assertion
metrics (the continuous form of ``plans/profiling.dq_assertions``).

The reference's quality story is reactive — rows that fail coercion
land in the misfits table (seghouse/warehouse/clickhouse.py misfits
DDL). This operator adds the proactive half a 24/7 ingest pipeline
needs: every micro-batch is scored against declared contracts in ONE
aggregate pass, the per-check violation counts are appended to a
metrics table (queryable like any other — freshness dashboards,
alerting joins), and violating rows can optionally be quarantined
without failing the stream.

Every monitor table is a ``sinks/txlog.TxLogTable`` (read it with
``TxLogTable(dir).read(spark)``), and each micro-batch commits with
the token ``txn=(checkpoint_dir, batch_id)``: a replayed batch skips
the commits that already landed, so no metric or quarantined row is
ever appended twice.

Scale: per batch, one map-side-combinable aggregate (all checks are
conditional sums over one scan) producing exactly ``len(checks)``
metric rows — metrics volume grows with batches, never with rows.
The optional quarantine pass reuses the cached batch and writes only
violating rows. State: none (the metrics table IS the history), so
this composes with any upstream watermark/dedup operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sinks.txlog import TxLogTable


def batch_dq_metrics(
    batch_df: DataFrame,
    checks: Sequence[tuple[str, Column]],
    batch_id: int,
) -> DataFrame:
    """One-pass DQ metric rows for a (batch) DataFrame:
    (batch_id, check_name, n_rows, n_violations, passed) per check.
    `checks` maps check name -> VIOLATION predicate (true = bad row).
    Usable standalone on any batch table as well as from the stream
    monitor below."""
    if not checks:
        raise ValueError("batch_dq_metrics needs at least one check")
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias(f"v_{i}")
        for i, (_, cond) in enumerate(checks)
    ]
    row = batch_df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.lit(name).alias("check_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"v_{i}").alias("n_violations"),
            (F.col(f"v_{i}") == 0).alias("passed"),
        )
        for i, (name, _) in enumerate(checks)
    ]
    return row.select(F.explode(F.array(*structs)).alias("m")).select("m.*")


def streaming_dq_monitor(
    stream: DataFrame,
    checks: Sequence[tuple[str, Column]],
    metrics_dir: str,
    checkpoint_dir: str,
    quarantine_dir: str | None = None,
):
    """Attach continuous DQ monitoring to a streaming DataFrame.

    Each micro-batch commits one metrics row per check to
    `metrics_dir`. With `quarantine_dir`, rows violating ANY
    check are also committed there with a `_violated` column naming the
    failed checks — the streaming mirror of the reference's misfits
    quarantine, but rule-driven instead of coercion-driven.

    The monitor OBSERVES; it never filters the main stream (compose
    `stream.filter(~cond)` upstream if rejection is wanted)."""
    metrics = TxLogTable(metrics_dir)
    quarantine = None if quarantine_dir is None else TxLogTable(quarantine_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        token = (checkpoint_dir, batch_id)
        if quarantine is not None:
            batch_df = batch_df.cache()
        try:
            metrics.append(batch_dq_metrics(batch_df, checks, batch_id), txn=token)
            if quarantine is not None:
                violated = F.array_compact(
                    F.array(
                        *[
                            F.when(cond, F.lit(name))
                            for name, cond in checks
                        ]
                    )
                )
                quarantine.append(
                    batch_df.withColumn("_violated", violated)
                    .filter(F.size("_violated") > 0)
                    .withColumn("_batch_id", F.lit(batch_id).cast("long")),
                    txn=token,
                )
        finally:
            if quarantine is not None:
                batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def histogram_shares(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> dict[int, float]:
    """Equal-width histogram shares of `value_col` over [lo, hi),
    clamped at the edges (bin 1..n_bins, matching width_bucket's
    convention with out-of-range values folded into the end bins).
    Returns a driver-side dict of n_bins scalars — the frozen
    REFERENCE profile for drift monitoring (the same bounded-collect
    stance as k-means centroids: the profile is the model, not data).

    NULL values are EXCLUDED from the profile (width_bucket(NULL)
    yields a NULL bin, which would otherwise survive the groupBy and
    crash the driver-side dict build); the streaming monitor applies
    the same filter, so reference and live shares are computed over
    identical populations.
    """
    b = F.least(
        F.greatest(
            F.width_bucket(F.col(value_col), F.lit(lo), F.lit(hi), F.lit(n_bins)),
            F.lit(1),
        ),
        F.lit(n_bins),
    )
    rows = (
        df.filter(F.col(value_col).isNotNull())
        .select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = sum(r.n for r in rows) or 1
    shares = {i: 0.0 for i in range(1, n_bins + 1)}
    for r in rows:
        shares[int(r.bin)] = r.n / total
    return shares


def streaming_drift_monitor(
    stream: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    ref_shares: dict[int, float],
    metrics_dir: str,
    checkpoint_dir: str,
    n_bins: int = 10,
    psi_alert: float = 0.25,
):
    """Continuous distribution-drift monitoring: every micro-batch is
    binned with the FROZEN reference edges (lo/hi/n_bins must be the
    ones `histogram_shares` built the reference with), its Population
    Stability Index against the reference is computed JVM-side, and
    one metrics row (batch_id, n_rows, psi, alert) is committed to
    `metrics_dir` — the streaming mirror of the batch
    `value_drift_psi` query, with the standard industry thresholds
    (psi < 0.1 stable, 0.1-0.25 moderate, > 0.25 shifted; alert fires
    at `psi_alert`).

    The reference profile rides along as an n_bins-row broadcast —
    never recomputed, so drift is always measured against the SAME
    baseline (recomputing per batch would make the monitor blind to
    slow drift). Shares are floored at 1e-6 before the log ratio, the
    usual PSI guard for empty bins. NULL-valued rows are excluded
    from both the profile and n_rows (same filter as
    histogram_shares, so the two populations stay identical)."""
    spark = stream.sparkSession
    ref_rows = [(int(k), float(v)) for k, v in sorted(ref_shares.items())]
    metrics = TxLogTable(metrics_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        ref = F.broadcast(
            spark.createDataFrame(ref_rows, "bin int, ref_share double")
        )
        b = F.least(
            F.greatest(
                F.width_bucket(
                    F.col(value_col), F.lit(lo), F.lit(hi), F.lit(n_bins)
                ),
                F.lit(1),
            ),
            F.lit(n_bins),
        )
        n_total = F.sum("n").over(Window.partitionBy())
        # NULL values are excluded from the profile, mirroring
        # histogram_shares — n_rows counts only binned (non-NULL) rows
        cur = (
            batch_df.filter(F.col(value_col).isNotNull())
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        joined = ref.join(cur, "bin", "left").select(
            "ref_share",
            (F.coalesce(F.col("n"), F.lit(0)) * 1.0 / n_total).alias("share"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        p = F.greatest(F.col("share"), F.lit(1e-6))
        q = F.greatest(F.col("ref_share"), F.lit(1e-6))
        row = joined.agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
        ).select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "n_rows",
            "psi",
            (F.col("psi") > psi_alert).alias("alert"),
        )
        metrics.append(row, txn=(checkpoint_dir, batch_id))

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_late_arrival_monitor(
    stream: DataFrame,
    ts_col: str,
    out_dir: str,
    late_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    delay: str = "1 hour",
    window: str = "1 hour",
):
    """Late-data ACCOUNTING: Structured Streaming's own watermark
    silently DROPS rows older than max(event_time) - delay from
    stateful aggregates — the first question a pipeline owner asks
    when counts look low ("how much was late, and what was it?") has
    no built-in answer. This monitor reproduces the engine's
    watermark semantics in foreachBatch and SURFACES both sides:
    on-time rows fold into per-event-time-window counts committed to
    `out_dir`; late rows are quarantined VERBATIM (all columns +
    batch_id + the watermark that rejected them) to `late_dir`, so
    they can be audited or replayed through a backfill. Rows with a
    NULL event time can never be counted (there is no window to fold
    them into), so they are quarantined too — with a NULL
    `_watermark` when no watermark exists yet — keeping the
    accounting total: every input row is counted or quarantined.

    Watermark state is a tiny JSON high-water mark persisted with an
    atomic tmp+rename, and it records (batch_id, prev_max, cur_max):
    a REPLAYED batch (crash after the state advanced but before the
    streaming commit) classifies against prev_max — the same
    watermark the original attempt used — so on-time/late assignment
    is deterministic under at-least-once redelivery, and its commits
    that already landed are skipped by their token.

    Scale: per batch one filter + one windowed count (map-side
    combinable); the quarantine writes only late rows; state is O(1)
    bytes regardless of stream volume."""
    import json as _json
    import os
    from pathlib import Path

    delay_expr = f"INTERVAL {delay}"
    counts = TxLogTable(out_dir)
    late = TxLogTable(late_dir)
    state_path = Path(state_dir) / "watermark.json"
    state_path.parent.mkdir(parents=True, exist_ok=True)

    def _load_state() -> dict:
        try:
            return _json.loads(state_path.read_text())
        except (FileNotFoundError, ValueError):
            return {"batch_id": None, "prev_max": None, "cur_max": None}

    def _save_state(st: dict) -> None:
        tmp = state_path.with_suffix(".tmp")
        tmp.write_text(_json.dumps(st))
        os.replace(tmp, state_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        token = (checkpoint_dir, batch_id)
        st = _load_state()
        base = st["prev_max"] if st["batch_id"] == batch_id else st["cur_max"]
        batch_df = batch_df.cache()
        try:
            ts = F.col(ts_col)
            # A NULL event time can never be counted (no window to fold
            # into), so it is quarantined alongside late rows — every
            # input row is either counted on-time or lands in late_dir.
            if base is not None:
                wm = F.expr(
                    f"timestamp_micros({base}) - {delay_expr}"
                )
                quarantined = batch_df.filter(ts.isNull() | (ts < wm))
                ontime = batch_df.filter(ts.isNotNull() & ~(ts < wm))
            else:
                wm = F.lit(None).cast("timestamp")  # no watermark yet
                quarantined = batch_df.filter(ts.isNull())
                ontime = batch_df.filter(ts.isNotNull())
            late.append(
                quarantined
                .withColumn("_batch_id", F.lit(batch_id).cast("long"))
                .withColumn("_watermark", wm),
                txn=token,
            )
            counts.append(
                ontime.filter(ts.isNotNull())
                .groupBy(F.window(ts, window).alias("w"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
                .select(
                    F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_rows",
                    F.lit(batch_id).cast("long").alias("batch_id"),
                ),
                txn=token,
            )
            mx = batch_df.agg(
                F.max(F.unix_micros(ts)).alias("m")
            ).collect()[0]["m"]
            cur = max(x for x in (base, mx) if x is not None) if (
                base is not None or mx is not None
            ) else None
            _save_state(
                {"batch_id": batch_id, "prev_max": base, "cur_max": cur}
            )
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
