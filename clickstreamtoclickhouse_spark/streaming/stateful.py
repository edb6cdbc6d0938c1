"""Stateful streaming operators (SURVEY.md §2.8 capability additions —
the reference has no streaming; its idempotency contract is
at-least-once + eventual dedup, which `streaming_dedup` upgrades to
exactly-once-per-key within the watermark).

The in-stream operators take an unbounded (readStream) DataFrame and
return a transformed streaming DataFrame; state is bounded by
watermarks.

The foreachBatch operators (the corpus dedup family, the Bloom,
fuzzy and embedding screens, the source quota, the contamination
screen and `stream_merge_upsert`) return a started query and write
only through ``sinks/txlog.TxLogTable``. A state table carries a
``batch_id`` column and is read as of strictly before the current
batch (``TxLogTable.read_before``); every commit carries the token
``txn=(checkpoint_dir, batch_id)``. A replayed micro-batch therefore
recomputes the decision of its first attempt, skips the commits that
landed and makes the rest, so a crash at any commit leaves the
tables as one clean run would. Read their outputs with
``TxLogTable(dir).read(spark)``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sinks.txlog import TxLogTable


def _state_table(path: str) -> TxLogTable:
    """A foreachBatch operator's state table: its rows carry
    `batch_id`, whose zone maps let `read_before` skip later batches'
    files."""
    return TxLogTable(path, stats_cols=("batch_id",))


def _tagged(df: DataFrame, batch_id: int) -> DataFrame:
    return df.withColumn("batch_id", F.lit(batch_id).cast("long"))


def streaming_dedup(
    events: DataFrame,
    keys: tuple[str, ...] = ("message_id",),
    ts_col: str = "timestamp",
    watermark: str = "1 hour",
) -> DataFrame:
    """In-stream Q1 semantics: drop duplicate keys as they arrive,
    with state bounded by the watermark (duplicates farther apart than
    the watermark fall back to the at-rest dedup view — same contract
    as ClickHouse's eventual ReplacingMergeTree merges)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def session_aggregation(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "timestamp",
    key_col: str = "user_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows: per-user sessions closed after `gap` of
    inactivity — the streaming analog of the batch sessionization
    query (plans/core.py:sessionization)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("session"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "timestamp",
    interval: str = "30 minutes",
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER join on key within a time interval
    (right event lands in [left_ts, left_ts + interval]) — e.g.
    attribute each purchase to the click that preceded it. Both sides
    carry watermarks and the join condition bounds event-time range,
    so Spark can evict join state: without both, stream-stream join
    state grows forever. Output: (key, left_ts, right_ts,
    lag_seconds)."""
    l = left.select(
        F.col(key_col).alias("k"), F.col(ts_col).alias("left_ts")
    ).withWatermark("left_ts", left_watermark)
    r = right.select(
        F.col(key_col).alias("k2"), F.col(ts_col).alias("right_ts")
    ).withWatermark("right_ts", right_watermark)
    cond = (
        (F.col("k") == F.col("k2"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {interval}"))
    )
    return (
        l.join(r, cond, "inner")
        .select(
            F.col("k").alias(key_col),
            "left_ts",
            "right_ts",
            (
                F.unix_timestamp("right_ts") - F.unix_timestamp("left_ts")
            ).alias("lag_seconds"),
        )
    )


def enrich_with_dimension(
    events: DataFrame,
    dim: DataFrame,
    key_col: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: join the unbounded stream
    to a bounded dimension table. The static side is broadcast — each
    micro-batch maps over executors with no shuffle of the stream, the
    same plan shape a 1000-executor deployment wants (the dimension is
    re-resolved per micro-batch, so slowly-changing dims pick up
    updates on file sources)."""
    return events.join(F.broadcast(dim), key_col, how)


def streaming_corpus_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Continuous corpus construction with exact dedup: each
    micro-batch of documents is deduped against the PERSISTED corpus
    hash index (the state table at `index_dir`), survivors are
    committed to `out_dir` and their hashes to the index — so later
    batches (and re-delivered files) never re-admit a duplicate.

    This is `dedup_text.incremental_exact_dedup` composed with
    foreachBatch: the index read is per-batch (picks up earlier
    batches' commits), the anti-join shuffles only (hash, id), and
    the corpus text is written once and never reshuffled.
    At-least-once file delivery upgrades to exactly-once corpus
    membership because re-sent content hits its own hash in the
    index; a replayed micro-batch is exactly-once through the module's
    commit path."""
    from ..functions.dedup_text import incremental_exact_dedup

    spark = docs_stream.sparkSession
    index = _state_table(index_dir)
    out = TxLogTable(out_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        token = (checkpoint_dir, batch_id)
        batch_df = batch_df.cache()
        try:
            idx = index.read_before(spark, token)
            # first batch: empty corpus -> in-batch dedup only
            fresh = incremental_exact_dedup(
                batch_df,
                batch_df.limit(0) if idx is None else idx,
                id_col,
                text_col,
                corpus_hash_col=None if idx is None else "content_hash",
            ).cache()
            try:
                out.append(
                    batch_df.join(fresh.select(id_col), id_col, "left_semi"),
                    txn=token,
                )
                index.append(
                    _tagged(fresh.select("content_hash"), batch_id), txn=token
                )
            finally:
                fresh.unpersist()
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


_COUNTER_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events_total", T.LongType()),
        T.StructField("batch_events", T.LongType()),
    ]
)
_COUNTER_STATE = T.StructType([T.StructField("total", T.LongType())])


def running_user_counts(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "timestamp",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a
    per-user lifetime event counter that survives across micro-batches
    (GroupState). Demonstrates the arbitrary-stateful escape hatch for
    operators session_window/agg can't express."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state,
    ) -> Iterator[pd.DataFrame]:
        batch = sum(len(pdf) for pdf in pdfs)
        total = (state.get[0] if state.exists else 0) + batch
        state.update((total,))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events_total": [total], "batch_events": [batch]}
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=_COUNTER_OUT,
            stateStructType=_COUNTER_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def stream_merge_upsert(
    updates_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    keys: tuple[str, ...],
    version_col: str | None = None,
    delete_col: str | None = None,
):
    """Continuously maintained upsert table: every micro-batch of
    change rows is MERGEd (operators/merge.py semantics — latest
    version wins, tombstones delete) into the ``TxLogTable`` at
    `table_dir` as ONE atomic commit (``TxLogTable.merge_upsert``).

    This is the streaming CDC-apply shape. Readers of the table
    (``TxLogTable(table_dir).read(spark)``) see the snapshot before or
    after a micro-batch, never a truncated table. Idempotent under
    at-least-once replay: merging a batch twice is a no-op on content
    (operators/merge.py pins that), so a crash between commit and
    checkpoint just re-applies harmlessly."""
    spark = updates_stream.sparkSession
    table = TxLogTable(table_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        table.merge_upsert(
            spark, batch_df, keys=list(keys),
            version_col=version_col, delete_col=delete_col,
        )

    return (
        updates_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def user_running_totals_tws(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
):
    """Per-key running totals on Spark 4's transformWithStateInPandas
    — the NEW arbitrary-state API (SPARK-49564) that supersedes
    applyInPandasWithState: typed state handles (ValueState here;
    List/MapState and event/processing-time timers available from the
    same handle), state schema evolution, and Arrow-batched input per
    key. Output per input batch: (key, n_events_total, value_cents_total)
    reflecting ALL batches seen so far.

    Scale: state lives in the per-partition state store (RocksDB
    provider — REQUIRED by this API; session must set
    spark.sql.streaming.stateStore.providerClass to
    RocksDBStateStoreProvider), keyed by the shuffle key — no
    driver-side state, parallelism = shuffle partitions. Totals are
    integer cents, so replays/retries can't drift a float sum.

    ENV GATE: the API's state-server protocol needs google.protobuf,
    which this container lacks (no pip) — the pytest skips without
    it; on any stock Spark 4 deployment (protobuf ships with the
    usual distro images) it runs as-is. The applyInPandasWithState
    twin `running_user_counts` stays the container-runnable path."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Proc(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, cents = self._state.get()
            else:
                n, cents = 0, 0
            for pdf in rows:
                n += len(pdf)
                cents += int(round(float(pdf[value_col].sum()) * 100))
            self._state.update((n, cents))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events_total": [n],
                    "value_cents_total": [cents],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=Proc(),
        outputStructType=(
            f"{key_col} BIGINT, n_events_total BIGINT, value_cents_total BIGINT"
        ),
        outputMode="Update",
        timeMode="None",
    )


def streaming_bloom_dedup(
    docs_stream: DataFrame,
    bits_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 8192,
):
    """streaming_corpus_dedup with BOUNDED state: instead of the full
    content-hash index, the persisted state is a Bloom filter stored
    RELATIONALLY as its set-bit positions (<= `m` rows, ever). A
    micro-batch doc is admitted only if at least one of its k=4
    deterministic md5-window bit positions is unset; survivors'
    positions are committed (new positions only, via anti-join).

    The trade vs the exact index: O(m bits) state instead of O(corpus)
    rows — at the price of a tunable, DETERMINISTIC false-positive
    rate that silently drops a small fraction of genuinely-new docs
    (acceptable in web-corpus construction, where near-dup filters
    drop far more). Because Bloom filters have no false negatives, a
    re-delivered duplicate can never be re-admitted — the
    exactly-once-membership guarantee survives at-least-once
    delivery, same as the exact path. In-batch duplicates are removed
    exactly (min-id per content hash) before insertion.

    At this m the bit table broadcasts into the membership join; at
    web scale (m ~ 10^10 bits) the identical plan degrades to a
    sort-merge join on pos — still linear."""
    from ..functions.dedup_text import bloom_positions

    spark = docs_stream.sparkSession
    bits_table = _state_table(bits_dir)
    out = TxLogTable(out_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        token = (checkpoint_dir, batch_id)
        batch_df = batch_df.cache()
        try:
            # NULL text hashes to NULL positions, which would (a) never
            # match the bits table -> the doc re-admits on every
            # re-delivery, and (b) commit a duplicate NULL pos row per
            # batch (NULL != NULL in the anti-join), breaking the <= m
            # state bound. Normalize to '' so null-text docs dedup as
            # one content like any other.
            txt = F.coalesce(F.col(text_col), F.lit(""))
            pos_arr = F.array(*bloom_positions(txt, m))
            bits = bits_table.read_before(spark, token)
            if bits is not None:
                bits = bits.select("pos")
                qpos = batch_df.select(id_col, F.explode(pos_arr).alias("pos"))
                hit = (
                    qpos.join(
                        # no broadcast hint: small bit tables broadcast
                        # via size estimate; a web-scale m degrades to
                        # sort-merge instead of a forced-broadcast OOM
                        bits.withColumn("s1", F.lit(1)),
                        "pos",
                        "left",
                    )
                    .groupBy(id_col)
                    .agg(F.min(F.coalesce(F.col("s1"), F.lit(0))).alias("allset"))
                )
                fresh = batch_df.join(
                    hit.filter(F.col("allset") == 0).select(id_col),
                    id_col,
                    "left_semi",
                )
            else:  # first batch: empty filter, everything bloom-new
                fresh = batch_df
            # exact in-batch dedup among bloom-new docs: min id per content
            keep = (
                fresh.groupBy(F.md5(txt).alias("h"))
                .agg(F.min(F.col(id_col)).alias(id_col))
                .select(id_col)
            )
            survivors = fresh.join(keep, id_col, "left_semi").cache()
            try:
                out.append(survivors, txn=token)
                new_pos = survivors.select(
                    F.explode(pos_arr).alias("pos")
                ).distinct()
                if bits is not None:
                    new_pos = new_pos.join(bits, "pos", "left_anti")
                bits_table.append(_tagged(new_pos, batch_id), txn=token)
            finally:
                survivors.unpersist()
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_fuzzy_corpus_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_bands: int = 8,
):
    """``streaming_corpus_dedup``'s fuzzy sibling: each micro-batch is
    screened against the persisted MinHash BAND index, so re-sent OR
    NEAR-DUPLICATE content (truncations, boilerplate re-crawls) is
    rejected — exact hashing only stops byte-identical re-delivery.
    Survivors' text is committed to `out_dir`, their band rows to
    `index_dir`.

    Per batch: O(|batch|) band rows screened against the index, which
    is first cut to the band keys the batch touches by a broadcast
    semi-join, so the index side never shuffles; in-batch
    collisions resolved by functions.dedup_text.incremental_minhash_dedup's
    deterministic keeper rule. Index growth is `num_bands` rows per
    ADMITTED doc — rejected duplicates add nothing."""
    from ..functions.dedup_text import incremental_minhash_dedup

    spark = docs_stream.sparkSession
    index = _state_table(index_dir)
    out = TxLogTable(out_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        token = (checkpoint_dir, batch_id)
        batch_df = batch_df.cache()
        try:
            fresh_ids, fresh_bands = incremental_minhash_dedup(
                batch_df, index.read_before(spark, token),
                num_bands=num_bands, id_col=id_col, text_col=text_col,
            )
            fresh_bands = fresh_bands.cache()
            try:
                out.append(
                    batch_df.join(fresh_ids, id_col, "left_semi"), txn=token
                )
                index.append(
                    _tagged(fresh_bands.select(id_col, "band", "bk"), batch_id),
                    txn=token,
                )
            finally:
                fresh_bands.unpersist()
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_embedding_dedup(
    vec_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    dim: int,
    threshold: float = 0.995,
    num_tables: int = 6,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """SEMANTIC streaming dedup — completes the incremental-dedup
    symmetry (text: exact `streaming_corpus_dedup` + fuzzy
    `streaming_fuzzy_corpus_dedup`; embeddings: this): each
    micro-batch of vectors is screened against the persisted LSH
    bucket index WITH an exact-cosine verify
    (functions.similarity.incremental_lsh_dedup — bucket collisions
    alone would drop mere cluster-mates); survivors' vectors are
    committed to `out_dir` and their bucket + vector index rows to
    `index_dir`/buckets and `index_dir`/vectors.

    Per batch: O(|batch| x num_tables) bucket rows against the index;
    the verify fetches only colliding corpus vectors by id. The three
    commits of a batch land in any order: a replay reads both index
    tables as of before the batch, so it recomputes the same
    survivors and skips the commits that already landed."""
    from ..functions.similarity import incremental_lsh_dedup

    spark = vec_stream.sparkSession
    buckets = _state_table(f"{index_dir}/buckets")
    vectors = _state_table(f"{index_dir}/vectors")
    out = TxLogTable(out_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        token = (checkpoint_dir, batch_id)
        batch_df = batch_df.cache()
        try:
            idx_v = vectors.read_before(spark, token)
            # no vector index yet: nothing to verify a bucket hit against
            idx_b = None if idx_v is None else buckets.read_before(spark, token)
            fresh, fresh_b, fresh_v = incremental_lsh_dedup(
                batch_df, idx_b, idx_v, dim=dim, threshold=threshold,
                num_tables=num_tables, bits=bits,
                id_col=id_col, vec_col=vec_col,
            )
            out.append(batch_df.join(fresh, id_col, "left_semi"), txn=token)
            vectors.append(_tagged(fresh_v, batch_id), txn=token)
            buckets.append(_tagged(fresh_b, batch_id), txn=token)
        finally:
            batch_df.unpersist()

    return (
        vec_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


_MG_OUT = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("item", T.StringType()),
        T.StructField("count_lower", T.LongType()),
        T.StructField("decrements", T.LongType()),
        T.StructField("shard_seen", T.LongType()),
    ]
)
_MG_STATE = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("decrements", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def streaming_heavy_hitters(
    events: DataFrame,
    item_col: str = "event_type",
    ts_col: str = "timestamp",
    k: int = 16,
    n_shards: int = 8,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming heavy hitters via a Misra-Gries summary (Misra &
    Gries 1982, public method) held in GroupState: at most k
    counters per shard survive across micro-batches, so state is
    O(k * n_shards) FOREVER regardless of stream volume — the
    unbounded-cardinality companion to `heavy_hitter_events`' batch
    top-k.

    Sharding: items are hash-partitioned into `n_shards` groups
    (stable pmod of xxhash64), each holding an independent summary —
    the standard scale-out, since MG summaries of disjoint item sets
    union losslessly. Per item the MG guarantee holds within its
    shard: count_lower <= true_count <= count_lower + decrements,
    and any item with true shard frequency > shard_seen/(k+1) is
    GUARANTEED present (never a false negative above that bar).
    Every batch emits each shard's surviving candidates in UPDATE
    mode; a downstream exact count over just the candidate set
    refines lower bounds when needed.

    Batch arithmetic is pure pandas column ops (value_counts +
    vectorized merge) — no per-row Python in the executor hot path
    beyond the Arrow-batched state function itself."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state,
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        if state.exists:
            items, counts, decs, seen = state.get
            summary = dict(zip(items, (int(c) for c in counts)))
            decs, seen = int(decs), int(seen)
        else:
            summary, decs, seen = {}, 0, 0
        batch = _pd.concat(list(pdfs), ignore_index=True)
        vc = batch["item"].value_counts()
        seen += int(vc.sum())
        for item, cnt in vc.items():
            summary[item] = summary.get(item, 0) + int(cnt)
        # Misra-Gries decrement: while more than k counters survive,
        # subtract the (k+1)-th largest from everyone and drop zeros —
        # equivalent to repeated unit decrements, done in one step.
        while len(summary) > k:
            cut = sorted(summary.values(), reverse=True)[k]
            decs += cut
            summary = {
                i: c - cut for i, c in summary.items() if c - cut > 0
            }
        ordered = sorted(summary.items(), key=lambda kv: (-kv[1], kv[0]))
        state.update(
            (
                [i for i, _ in ordered],
                [c for _, c in ordered],
                decs,
                seen,
            )
        )
        yield _pd.DataFrame(
            {
                "shard": [key[0]] * len(ordered),
                "item": [i for i, _ in ordered],
                "count_lower": [c for _, c in ordered],
                "decrements": [decs] * len(ordered),
                "shard_seen": [seen] * len(ordered),
            }
        )

    shard = F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards)).cast("int")
    return (
        events.withWatermark(ts_col, watermark)
        .select(
            shard.alias("shard"), F.col(item_col).cast("string").alias("item")
        )
        .groupBy("shard")
        .applyInPandasWithState(
            update,
            outputStructType=_MG_OUT,
            stateStructType=_MG_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def streaming_chunk_dedup(
    docs_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    chunk_stride: int = 32,
):
    """Continuous RAG-corpus construction with CHUNK-level exact
    dedup: the incoming document stream is chunked into overlapping
    token windows (the plans/llmprep doc_chunking shape — a pure
    projection + explode, so it composes with Structured Streaming
    unchanged), and the chunk stream feeds `streaming_corpus_dedup`
    keyed on the chunk id with the chunk TEXT as dedup content.
    A re-crawled document under a NEW id therefore contributes zero
    new chunks (every window hashes into the persisted index), and a
    boilerplate block shared across distinct documents is stored
    once — the streaming mirror of the batch `chunk_dedup` query,
    inheriting streaming_corpus_dedup's index semantics, scale shape
    and commit path."""
    from pyspark.sql import functions as F

    from ..functions.text import words

    ws = words(F.col(text_col))
    chunked = (
        docs_stream.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.col(id_col),
            ws.alias("_ws"),
            F.explode(
                F.sequence(F.lit(0), F.size(ws) - 1, F.lit(chunk_stride))
            ).alias("_start"),
        )
        .select(
            F.concat_ws(
                ":", F.col(id_col).cast("string"),
                F.col("_start").cast("string"),
            ).alias("chunk_id"),
            F.col(id_col).alias("src_" + id_col),
            F.col("_start").cast("long").alias("chunk_start"),
            F.array_join(
                F.slice("_ws", F.col("_start") + 1, F.lit(chunk_size)), " "
            ).alias("chunk_text"),
        )
    )
    return streaming_corpus_dedup(
        chunked,
        index_dir,
        out_dir,
        checkpoint_dir,
        id_col="chunk_id",
        text_col="chunk_text",
    )


def streaming_url_frontier(
    urls_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    url_col: str = "url",
):
    """Streaming crawl-frontier dedup: canonicalize each micro-batch's
    URLs (plans.webprep.canonicalize_url — case/port/www/fragment/
    tracking-param normalization) and admit only canonical forms never
    seen before, against a PERSISTED canonical-hash index. The
    frontier discipline of a continuous crawl: re-discovered links,
    tracking-decorated variants, and re-sent files all collapse onto
    the canonical hash and are rejected.

    Composition: canonicalize_url -> the streaming_corpus_dedup
    machinery with the canonical string as the dedup text — one
    implementation of incremental exact dedup serves text, chunks,
    AND the url frontier (the portable_id_hash single-source rule
    applied to operators). Same scale and commit story as
    streaming_corpus_dedup: (hash, id)-keyed anti-join per batch."""
    from ..plans.webprep import canonicalize_url

    canon = urls_stream.withColumn(
        "canonical_url", canonicalize_url(F.col(url_col))
    )
    return streaming_corpus_dedup(
        canon,
        index_dir,
        out_dir,
        checkpoint_dir,
        id_col=id_col,
        text_col="canonical_url",
    )


def streaming_source_quota(
    docs_stream: DataFrame,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    budget_tokens: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
):
    """Continuous per-source token-budget admission — the ONLINE form
    of the mixture allocators (mixture_epoch_allocation /
    training_mixture): each micro-batch's documents are admitted in
    deterministic ({source}, {id}) order until their source's
    REMAINING budget is exhausted; admitted docs are committed to
    `out_dir` and each batch commits its per-source spent-token deltas
    to the ledger at `ledger_dir`, so later batches continue exactly
    where this one stopped. The boundary document that would
    overshoot is rejected (hard cap — the epoch-cap stance), as is
    everything after it for that source.

    Scale: the ledger read is a source-cardinality aggregate of the
    append-only delta table; the in-batch cumulative is a window
    PARTITIONED by source over batch-sized input; admitted text is
    written once and never reshuffled. State is one counter per
    source per batch.

    A replayed batch reads the ledger as of before the batch, so a
    crash between the ledger and corpus commits neither under-admits
    nor over-spends. Admission is by document, so re-DELIVERED
    documents (new batches carrying old content) spend budget twice
    unless streaming_corpus_dedup runs upstream (at-least-once
    composition documented, not hidden)."""
    from pyspark.sql.window import Window

    from ..functions import text as tx
    from ..util import release_local_checkpoint

    spark = docs_stream.sparkSession
    ledger = _state_table(ledger_dir)
    out = TxLogTable(out_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        token = (checkpoint_dir, batch_id)
        batch_df = batch_df.cache()
        admitted = None
        try:
            led = ledger.read_before(spark, token)
            if led is not None:
                spent = led.groupBy(source_col).agg(
                    F.sum("spent_tokens").cast("long").alias("spent")
                )
            else:
                spent = (
                    batch_df.select(source_col)
                    .limit(0)
                    .withColumn("spent", F.lit(0).cast("long"))
                )
            w = Window.partitionBy(source_col).orderBy(id_col).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            scored = batch_df.select(
                id_col,
                source_col,
                tx.token_count_ws(F.col(text_col))
                .cast("long")
                .alias("n_tokens"),
            ).withColumn("cum", F.sum("n_tokens").over(w).cast("long"))
            admitted = (
                scored.join(F.broadcast(spent), source_col, "left")
                .withColumn(
                    "spent", F.coalesce("spent", F.lit(0).cast("long"))
                )
                # a doc is admitted iff EVERYTHING up to and including
                # it fits — a rejected doc also blocks later in-batch
                # docs of its source (contiguous-prefix admission keeps
                # the ledger a single counter per source)
                .filter(F.col("spent") + F.col("cum") <= budget_tokens)
                # computed once for both commits
                .localCheckpoint(eager=True)
            )
            ledger.append(
                _tagged(
                    admitted.groupBy(source_col).agg(
                        F.sum("n_tokens").cast("long").alias("spent_tokens")
                    ),
                    batch_id,
                ),
                txn=token,
            )
            out.append(
                batch_df.join(admitted.select(id_col), id_col, "left_semi"),
                txn=token,
            )
        finally:
            batch_df.unpersist()
            # checkpoint blocks are only GC-reclaimed at driver GC —
            # release per-batch so a long stream's storage stays
            # bounded (r13 advice)
            if admitted is not None:
                release_local_checkpoint(admitted)

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_contamination_screen(
    docs_stream: DataFrame,
    bench_dir: str,
    out_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Online benchmark decontamination (the streaming form of
    benchmark_contamination, r13): each micro-batch's documents are
    screened against the STATIC benchmark n-gram set built ONCE from
    the parquet documents at `bench_dir`; clean docs are committed to
    `out_dir`, contaminated ones to `quarantine_dir` with their
    hit-gram count — so a corpus under continuous ingestion never
    admits eval-set leakage, and the quarantine is auditable.

    Scale: the benchmark gram table is eval-sized, materialized once
    (eager localCheckpoint at stream construction) and BROADCAST into
    every batch join — per batch the work is one gram explode over
    batch-sized input plus two commits; nothing shuffles on the gram
    and no state grows with the stream."""
    from ..functions import text as tx
    from ..util import release_local_checkpoint

    spark = docs_stream.sparkSession
    out = TxLogTable(out_dir)
    quarantine = TxLogTable(quarantine_dir)
    bench_grams = (
        spark.read.parquet(bench_dir)
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            F.explode(
                F.array_distinct(
                    tx._ngrams(tx.words(F.lower(F.col(text_col))), n)
                )
            ).alias("gram")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        token = (checkpoint_dir, batch_id)
        batch_df = batch_df.cache()
        hits = None
        try:
            hits = (
                batch_df.select(
                    id_col,
                    F.explode(
                        F.array_distinct(
                            tx._ngrams(
                                tx.words(F.lower(F.col(text_col))), n
                            )
                        )
                    ).alias("gram"),
                )
                .join(F.broadcast(bench_grams), "gram")
                .groupBy(id_col)
                .agg(F.count("*").cast("long").alias("n_hit_grams"))
                .localCheckpoint(eager=True)
            )
            out.append(
                batch_df.join(hits.select(id_col), id_col, "left_anti"),
                txn=token,
            )
            quarantine.append(batch_df.join(hits, id_col), txn=token)
        finally:
            batch_df.unpersist()
            # checkpoint blocks are only GC-reclaimed at driver GC —
            # release per-batch so a long stream's storage stays
            # bounded (the token-budget sink's r13-advice stance)
            if hits is not None:
                release_local_checkpoint(hits)

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
