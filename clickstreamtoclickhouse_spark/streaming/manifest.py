"""Incremental corpus-build manifest — the round-14 capstone.

The batch ``corpus_build_manifest`` (plans/ext.py) re-expressed as
continuous ingestion, composing the engine's streaming ingredients:
each micro-batch of documents flows through the quality gate, the
persisted exact-dedup HASH index, the persisted MinHash fuzzy-dedup
BAND index, the static benchmark contamination screen, and an
optional per-source token quota; every table is governed by the
native transaction log (sinks/txlog.py) with an idempotence token
per (app, batch_id), so at-least-once micro-batch delivery yields
EXACTLY-ONCE corpus membership. ``incremental_manifest_finalize``
then runs the batch manifest's calibration + shard/step stages over
the accumulated store.

Equivalence contract (pinned by tests/test_incremental_manifest.py
and, at the driver's correctness gate, by the registered
``incremental_corpus_build_manifest`` query sharing the BATCH
manifest's DuckDB oracle): under monotone delivery (batches
partition the corpus in ascending doc_id ranges), the finalized
incremental manifest equals ``corpus_build_manifest`` row-for-row.
Why each stage is exactly incremental under that ordering:

- stages 1-2 (holdout + quality gate) are row-local;
- stage 3 (exact dedup, min-id keeper): first arrival per content
  hash IS the min id, and in-batch groups use the same min-id window
  (functions/dedup_text.incremental_exact_dedup);
- stage 4 (near-dup, one-pass smaller-id-pair drop): the batch rule
  drops doc X iff a verified pair (A, X), A < X exists over the
  exact-deduped corpus — every such A arrived earlier (the index) or
  in-batch, so screening arrivals against index ∪ batch reproduces
  the drop set. The hot-bucket cap is applied to the bucket's size
  AT SCREENING TIME; a bucket whose FINAL size is within the cap has
  been within it at every arrival, so pair sets agree exactly unless
  a bucket crosses the cap mid-stream — there the incremental screen
  is strictly MORE conservative (it already dropped members while
  the bucket was cold; the batch mode drops the whole hot bucket's
  pairs). Production posture: guard at ingest;
- stage 5 (decontamination) screens against a STATIC benchmark gram
  set, independent of arrival order.

Stages 6-7 (per-source percentile calibration + shard/step
assignment) are corpus-global by definition, so they run at
FINALIZE over the admitted store — through the SAME
``manifest_calibrate_and_shard`` the batch manifest calls, so the
two tails cannot diverge.

Exactly-once mechanics: every index/store read filters
``batch_id < current`` (belt: txlog zone-map file pruning on the
batch_id column; suspenders: an explicit filter), so a REPLAYED
batch recomputes exactly the original admission decision even when a
crash left some of the batch's table commits applied and others not
— the applied ones are skipped by their (app, batch_id) token, the
missing ones are re-derived from identical pre-batch state and
committed (``TxLogTable.read_before``, the state read every stream
operator in ``streaming/`` shares).

Scale: the arriving batch's work is O(|batch|) against arbitrarily
large indexes — the hash anti-join shuffles batch-keyed rows (a
bucketed hash index makes it co-located), and the fuzzy screen
first semi-joins the band index down to the batch's TOUCHED band
buckets (a batch-sized broadcast of distinct band keys) before the
capped candidate join, so bucket counting never scans the full
index. Reference intent: seghouse send_to_warehouse.py:104-131 —
repeated incremental ingestion into a warehouse is the reference's
raison d'être; this composes it with the dedup/decontamination
stages a training-corpus build needs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as tx
from ..functions.dedup_text import (
    _cap_buckets,
    incremental_exact_dedup,
    minhash_portable_bands,
    touched_index_rows,
    verified_pairs_from_bands,
)
from ..sinks.txlog import TxLogTable
from ..util import portable_id_hash, release_local_checkpoint


@dataclass
class ManifestTables:
    """The txlog-governed state of one incremental manifest build:
    admitted corpus store, exact-dedup hash index, fuzzy-dedup band
    index, and (quota mode only) the per-source token ledger. All
    four live under one root so a build is a single directory."""

    root: str
    corpus: TxLogTable = field(init=False)
    hashes: TxLogTable = field(init=False)
    bands: TxLogTable = field(init=False)
    ledger: TxLogTable = field(init=False)

    def __post_init__(self) -> None:
        r = Path(self.root)
        self.corpus = TxLogTable(str(r / "corpus"), stats_cols=("batch_id",))
        self.hashes = TxLogTable(str(r / "hashes"), stats_cols=("batch_id",))
        self.bands = TxLogTable(str(r / "bands"), stats_cols=("batch_id",))
        self.ledger = TxLogTable(str(r / "ledger"), stats_cols=("batch_id",))


def manifest_batch_ingest(
    spark: SparkSession,
    tables: ManifestTables,
    batch_df: DataFrame,
    batch_id: int,
    bench_grams: DataFrame,
    app: str = "incr_manifest",
    quality_min: float = 0.5,
    nd_threshold: float = 0.5,
    shingle_n: int = 3,
    num_bands: int = 4,
    max_bucket_size: int | None = 8,
    contam_n: int = 5,
    budget_tokens: int | None = None,
) -> None:
    """Ingest ONE micro-batch (docs with doc_id/source/text) through
    the manifest's incremental stages; see the module docstring for
    the contract. `bench_grams` is the static benchmark gram set (one
    `gram` column, eval-sized — build it once per stream and
    eager-checkpoint it). The defaults mirror corpus_build_manifest's
    constants; the registered query passes them explicitly so the
    equivalence pin can't drift on a default change. Batch ids must
    be non-negative and strictly increasing (foreachBatch's
    contract); `app` must be keyed on the checkpoint incarnation
    (the txlog token-reuse caveat)."""
    token = (app, batch_id)
    ckpts: list[DataFrame] = []

    def freeze(df: DataFrame) -> DataFrame:
        out = df.localCheckpoint(eager=True)
        ckpts.append(out)
        return out

    try:
        # stages 1-2: benchmark holdout + quality gate (row-local; lazy
        # — a scan-shaped filter is cheaper to recompute in its two
        # consumers than to pay an extra stage-launch checkpointing)
        q = (
            batch_df.filter(
                (F.length(F.trim(F.col("text"))) > 0)
                & (F.col("doc_id") % 25 != 0)
            )
            .select("doc_id", "source", "text")
            .withColumn("quality", tx.quality_score(F.col("text")))
            .filter(F.col("quality") >= quality_min)
        )

        # stage 3: exact dedup — persisted hash index + in-batch min-id.
        # ONE checkpoint carries text+quality+content_hash for every
        # downstream consumer (banding, screens, all three appends)
        idx = tables.hashes.read_before(spark, token)
        ex_b = freeze(
            q.join(
                incremental_exact_dedup(
                    q,
                    idx if idx is not None else q.limit(0),
                    corpus_hash_col=(
                        "content_hash" if idx is not None else None
                    ),
                ),
                "doc_id",
            )
        )
        ex_ids = ex_b.select("doc_id", "content_hash")

        # stage 4: fuzzy near-dup screen — index ∪ batch bands, cap at
        # screening time, verified smaller-id partner drops the batch doc
        bands_b = minhash_portable_bands(
            ex_b.select("doc_id", "text"), n=shingle_n, num_bands=num_bands
        )
        bands_b = freeze(bands_b)
        bidx = tables.bands.read_before(spark, token)
        if bidx is not None:
            idx_sub = touched_index_rows(
                bidx.select("did", "sig", "band", "bk"), bands_b
            )
            allb = idx_sub.unionByName(
                bands_b.select("did", "sig", "band", "bk")
            )
        else:
            allb = bands_b.select("did", "sig", "band", "bk")
        capped = _cap_buckets(allb, ["band", "bk"], max_bucket_size)
        dropped = verified_pairs_from_bands(
            capped,
            nd_threshold,
            right_ids=ex_ids.select(F.col("doc_id").alias("did")),
        ).select(F.col("doc_b").alias("doc_id")).distinct()
        nd_b = ex_b.join(dropped, "doc_id", "left_anti")

        # stage 5: benchmark decontamination (static gram set)
        doc_grams = nd_b.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    tx._ngrams(tx.words(F.lower(F.col("text"))), contam_n)
                )
            ).alias("gram"),
        )
        contaminated = (
            doc_grams.join(F.broadcast(bench_grams), "gram")
            .select("doc_id")
            .distinct()
        )
        # INT, matching the batch manifest's output schema exactly
        # (quota arithmetic casts to long where it sums)
        admitted = nd_b.join(contaminated, "doc_id", "left_anti").withColumn(
            "n_tokens", tx.token_count_ws(F.col("text"))
        )

        # optional quota: contiguous-prefix admission per source in
        # arrival (doc_id) order against the persisted ledger
        if budget_tokens is not None:
            led = tables.ledger.read_before(spark, token)
            if led is not None:
                spent = led.groupBy("source").agg(
                    F.sum("spent_tokens").cast("long").alias("spent")
                )
            else:
                spent = (
                    admitted.select("source")
                    .limit(0)
                    .withColumn("spent", F.lit(0).cast("long"))
                )
            wq = (
                Window.partitionBy("source")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            admitted = (
                admitted.withColumn(
                    "cum",
                    F.sum(F.col("n_tokens").cast("long")).over(wq).cast("long"),
                )
                .join(F.broadcast(spent), "source", "left")
                .withColumn(
                    "spent", F.coalesce("spent", F.lit(0).cast("long"))
                )
                .filter(F.col("spent") + F.col("cum") <= budget_tokens)
                .drop("cum", "spent")
            )

        # compute the admission decision once for its commits, then
        # commit each table idempotently on (app, batch_id); commit
        # order does not matter, every screen reads pre-batch state
        admitted = freeze(admitted)
        bid = F.lit(batch_id).cast("long")
        if budget_tokens is not None:
            tables.ledger.append(
                admitted.groupBy("source")
                .agg(F.sum("n_tokens").cast("long").alias("spent_tokens"))
                .withColumn("batch_id", bid),
                txn=token,
            )
        tables.bands.append(
            bands_b.select("did", "sig", "band", "bk").withColumn(
                "batch_id", bid
            ),
            txn=token,
        )
        tables.hashes.append(
            ex_ids.withColumn("batch_id", bid), txn=token
        )
        tables.corpus.append(
            admitted.select(
                "doc_id", "source", "text", "quality", "n_tokens"
            ).withColumn("batch_id", bid),
            txn=token,
        )
    finally:
        for df in ckpts:
            release_local_checkpoint(df)


def manifest_calibrate_and_shard(
    dc: DataFrame, cal_min: float, n_shards: int
) -> DataFrame:
    """Stages 6-7 of the corpus build — per-source percentile
    calibration (drop below `cal_min`) and the deterministic epoch-0
    reader-shard + step assignment — over a (doc_id, source, quality,
    n_tokens) table. The ONE implementation behind the batch
    corpus_build_manifest's tail and incremental_manifest_finalize,
    so the equivalence pin cannot drift."""
    wsrc = Window.partitionBy("source").orderBy("quality", "doc_id")
    kept = dc.withColumn(
        "calibrated", F.round(F.percent_rank().over(wsrc), 6)
    ).filter(F.col("calibrated") >= cal_min)
    keyed = kept.select(
        "doc_id",
        "source",
        F.col("n_tokens"),
        portable_id_hash(
            F.concat_ws(":", F.lit("0"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    shard = F.pmod(F.col("h"), F.lit(n_shards)).cast("int")
    wshard = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        keyed.withColumn("shard", shard)
        .withColumn("step", F.row_number().over(wshard).cast("bigint"))
        .select("doc_id", "source", "n_tokens", "shard", "step")
    )


def incremental_manifest_finalize(
    spark: SparkSession,
    tables: ManifestTables,
    cal_min: float = 0.1,
    n_shards: int = 8,
) -> DataFrame:
    """The corpus-global tail over the accumulated admitted store:
    calibration + shard/step through the shared
    ``manifest_calibrate_and_shard``. Read once at whatever batch
    high-water the log holds — the txlog snapshot makes the read
    atomic against a concurrent in-flight batch."""
    corpus = tables.corpus.read(spark).select(
        "doc_id", "source", "quality", "n_tokens"
    )
    return manifest_calibrate_and_shard(corpus, cal_min, n_shards)


def streaming_manifest_ingest(
    docs_stream: DataFrame,
    root: str,
    bench_dir: str,
    checkpoint_dir: str,
    app: str = "incr_manifest",
    contam_n: int = 5,
    budget_tokens: int | None = None,
    **ingest_kwargs,
):
    """foreachBatch driver for ``manifest_batch_ingest``: the
    benchmark gram set is built ONCE from the parquet documents at
    `bench_dir` (its doc_id % 25 == 0 split) and eager-checkpointed;
    each micro-batch then runs the full incremental pipeline under
    its Spark-assigned batch_id. Key `app` on the checkpoint
    incarnation — deleting `checkpoint_dir` resets batch ids, and a
    reused app id would skip genuinely-new batches as replays (the
    txlog token caveat)."""
    spark = docs_stream.sparkSession
    tables = ManifestTables(root)
    bench_grams = (
        spark.read.parquet(bench_dir)
        .filter(
            (F.col("doc_id") % 25 == 0)
            & (F.length(F.trim(F.col("text"))) > 0)
        )
        .select(
            F.explode(
                F.array_distinct(
                    tx._ngrams(tx.words(F.lower(F.col("text"))), contam_n)
                )
            ).alias("gram")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        manifest_batch_ingest(
            spark,
            tables,
            batch_df,
            batch_id,
            bench_grams,
            app=app,
            contam_n=contam_n,
            budget_tokens=budget_tokens,
            **ingest_kwargs,
        )

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
