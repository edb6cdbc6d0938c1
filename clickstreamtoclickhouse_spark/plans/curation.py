"""Corpus-curation operators, round 8: chunk-level dedup, tokenizer
vocabulary coverage, preference-pair construction, internal split
hygiene, and repetition-aware mixture allocation.

These extend the LLM-pipeline family (SURVEY.md §2.11 extension tier)
with the steps between a filtered corpus and a training run that the
earlier families don't cover:

- chunk-level exact dedup — RAG / retrieval corpora dedup at the
  CHUNK granularity, not the document (a boilerplate chunk repeats
  across distinct documents that doc-level dedup keeps);
- out-of-vocabulary rate per language against the induced top-K
  vocabulary — the tokenizer-coverage readout a multilingual
  pretraining team checks before freezing a vocab (composes
  `vocab_induction` / `tokenizer_fertility_by_lang`);
- preference pairs (chosen, rejected) per source by quality-score
  rank — the deterministic construction step for reward-model /
  DPO-style training data (Ouyang et al. 2022; Rafailov et al. 2023,
  public methods);
- train/val/test contamination check — dataset_split hashes the
  DOC ID, so byte-identical texts under different ids can straddle
  splits; this measures exactly that leak (the internal-hygiene
  companion to the external benchmark-decontamination queries);
- epoch-capped mixture allocation — turns temperature weights into
  an actual per-language token allocation under a repetition cap
  (Muennighoff et al. 2023 'Scaling Data-Constrained LMs' motivates
  the epoch cap, public method), with the surplus waterfall unrolled
  a fixed number of rounds for cross-engine parity.

All queries are scan -> project/explode -> keyed agg/join shapes (or
windows over the LANGUAGE/SOURCE-bounded aggregate); no corpus-wide
windows, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as tx
from ..util import (
    DRIVER_SOLVE_LIMIT,
    bounded_collect,
    ckpt_once,
    round_half_up,
)
from .llmprep import CHUNK_SIZE, CHUNK_STRIDE
from .registry import load, query

_COPY_OFFSET = 1_000_000
VOCAB_K = 500
PREF_PER_SOURCE = 5
_EPOCH_CAP = 4
_ALLOC_ALPHA = 0.3  # same temperature as temperature_sampling_weights

_SQL_WS = tx.SQL_WORDS.format(t="text")

# duplicated corpus: every document exists twice under different ids —
# planted positives for chunk dedup and split contamination (the copy's
# id hashes into a different split bucket with high probability)
_SQL_COPY_CORPUS = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_COPY_OFFSET} AS doc_id, text FROM documents
"""


def _copy_corpus(d: DataFrame) -> DataFrame:
    base = d.select("doc_id", "text")
    return base.unionByName(
        base.select(
            (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text"
        )
    )


@query(
    "chunk_dedup",
    oracle=f"""
    WITH corpus AS ({_SQL_COPY_CORPUS}),
    toks AS (
      SELECT doc_id, {_SQL_WS} AS ws
      FROM corpus WHERE length(trim(text)) > 0
    ),
    st AS (
      SELECT doc_id, ws, unnest(range(0, len(ws), {CHUNK_STRIDE})) AS start
      FROM toks
    ),
    chunks AS (
      SELECT doc_id,
             CAST(start AS BIGINT) AS chunk_start,
             md5(array_to_string(
               ws[CAST(start + 1 AS BIGINT)
                  : CAST(start + {CHUNK_SIZE} AS BIGINT)], ' '))
               AS content_hash
      FROM st
    )
    SELECT content_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc,
           CAST(min(chunk_start) AS BIGINT) AS keeper_start
    FROM chunks
    GROUP BY content_hash
    """,
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at CHUNK granularity over the duplicated corpus:
    the doc_chunking windows (size {CHUNK_SIZE}, stride
    {CHUNK_STRIDE}) hashed and grouped — every chunk group in the
    planted corpus reports n_copies >= 2 with the original document
    as keeper. Retrieval corpora dedup here rather than at the doc
    level because a boilerplate chunk (header, license block) repeats
    across otherwise-unique documents.

    keeper_start is the global min start among the group's members
    (identical to the keeper doc's start whenever copies are aligned,
    as planted here); a per-keeper-doc argmin would need a second
    pass for no additional test power.

    Scale: scan -> explode(window starts) -> md5 -> ONE hash-keyed
    groupBy — the exact_dedup shape with ~2x-token-count/stride rows;
    no self-join, no windows."""
    corpus = _copy_corpus(load(spark, sf_dir, "documents")).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    t = corpus.select("doc_id", tx.words(F.col("text")).alias("ws"))
    t = t.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(0), F.size("ws") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunks = t.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("start").cast("bigint").alias("chunk_start"),
        F.md5(
            F.array_join(
                F.slice("ws", F.col("start") + 1, F.lit(CHUNK_SIZE)), " "
            )
        ).alias("content_hash"),
    )
    return chunks.groupBy("content_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.min("doc_id").cast("bigint").alias("keeper_doc"),
        F.min("chunk_start").cast("bigint").alias("keeper_start"),
    )


@query(
    "oov_rate_by_lang",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest({tx.SQL_WORDS.format(t='lower(text)')}) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS r
        FROM toks GROUP BY w
      ) WHERE r <= {VOCAB_K}
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           round(1.0 - sum(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END)
                       * 1.0 / count(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY lang
    """,
)
def oov_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token rate per language against the corpus's
    OWN induced top-{VOCAB_K} vocabulary (count-desc, word-asc
    tie-break — a deterministic total order, so the K boundary is
    identical cross-engine). The readout a multilingual team checks
    before freezing a tokenizer: a language whose OOV rate is high
    under the shared vocabulary will fragment into bytes/unks and pay
    a fertility penalty (`tokenizer_fertility_by_lang` prices the
    same problem after the fact).

    Scale: one word-keyed count aggregate (map-side combinable), a
    {VOCAB_K}-row TakeOrderedAndProject (never a global sort), the
    vocab BROADCAST back onto the token stream, and a language-keyed
    aggregate — all shuffles are keyed, the only collect-like step is
    the bounded top-K."""
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    toks = d.select(
        "lang", F.explode(tx.words(F.lower(F.col("text")))).alias("w")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(VOCAB_K)
        .select("w", F.lit(1).alias("iv"))
    )
    cov = toks.join(F.broadcast(vocab), "w", "left")
    return cov.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.coalesce(F.col("iv"), F.lit(0)))
        .cast("bigint")
        .alias("n_covered"),
        F.round(
            1.0
            - F.sum(F.coalesce(F.col("iv"), F.lit(0)))
            * 1.0
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


_SQL_QUALITY = f"""
             round(0.4 * least({tx.sql_token_count_ws('text')} / 100.0, 1.0)
               + 0.3 * (CASE WHEN {tx.sql_token_count_ws('text')} > 0
                              AND length(text) * 1.0
                                  / {tx.sql_token_count_ws('text')}
                                  BETWEEN 3 AND 12
                             THEN 1.0 ELSE 0.5 END)
               + 0.3 * (1.0 - least(
                   (CASE WHEN length(text) = 0 THEN 0.0
                         ELSE length(regexp_replace(
                                text, '[A-Za-z0-9\\s]', '', 'g'))
                              * 1.0 / length(text) END) * 4, 1.0)), 4)
"""


@query(
    "preference_pairs",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, {_SQL_QUALITY} AS q
      FROM documents
    ),
    top AS (
      SELECT source, q, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY q DESC, doc_id) AS r
      FROM scored
    ),
    bot AS (
      SELECT source, q, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY q ASC, doc_id DESC) AS r
      FROM scored
    )
    SELECT t.source, CAST(t.r AS INT) AS pair_rank,
           CAST(t.doc_id AS BIGINT) AS chosen_id,
           CAST(b.doc_id AS BIGINT) AS rejected_id,
           round(t.q - b.q, 4) AS margin
    FROM top t JOIN bot b ON t.source = b.source AND t.r = b.r
    WHERE t.r <= {PREF_PER_SOURCE}
      AND t.doc_id <> b.doc_id AND t.q > b.q
    """,
)
def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO-style
    training data (public method: Ouyang et al. 2022 InstructGPT,
    Rafailov et al. 2023 DPO): within each source, align the top
    {PREF_PER_SOURCE} documents by quality score (chosen) with the
    bottom {PREF_PER_SOURCE} (rejected) rank-for-rank, emitting the
    score margin. Deterministic everywhere: the quality score is the
    engine's 4dp composite (doc_quality), ranks tie-break on doc_id
    (asc among chosen, desc among rejected, so small sources pick
    disjoint extremes first), and degenerate pairs (same doc, zero
    margin) are dropped identically on both engines.

    Scale: two per-source row_number windows both pruned by the rank
    filter (WindowGroupLimit), then a join on (source, rank <=
    {PREF_PER_SOURCE}) — the joined relation is source-count x
    {PREF_PER_SOURCE} rows, never the corpus."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", tx.quality_score(F.col("text")).alias("q")
    )
    wt = Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id"))
    wb = Window.partitionBy("source").orderBy(F.asc("q"), F.desc("doc_id"))
    top = (
        scored.withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= PREF_PER_SOURCE)
        .select("source", "r", F.col("doc_id").alias("c_id"), F.col("q").alias("c_q"))
    )
    bot = (
        scored.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") <= PREF_PER_SOURCE)
        .select("source", "r", F.col("doc_id").alias("r_id"), F.col("q").alias("r_q"))
    )
    return (
        top.join(bot, ["source", "r"])
        .filter((F.col("c_id") != F.col("r_id")) & (F.col("c_q") > F.col("r_q")))
        .select(
            "source",
            F.col("r").cast("int").alias("pair_rank"),
            F.col("c_id").cast("bigint").alias("chosen_id"),
            F.col("r_id").cast("bigint").alias("rejected_id"),
            F.round(F.col("c_q") - F.col("r_q"), 4).alias("margin"),
        )
    )


@query(
    "split_contamination",
    oracle=f"""
    WITH corpus AS ({_SQL_COPY_CORPUS}),
    t AS (
      SELECT doc_id, md5(text) AS fp,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 100 < 80 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM corpus
    ),
    train_fps AS (SELECT DISTINCT fp FROM t WHERE split = 'train')
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_leaked_docs,
           CAST(count(DISTINCT e.fp) AS BIGINT) AS n_shared_fps
    FROM t e
    WHERE split <> 'train'
      AND EXISTS (SELECT 1 FROM train_fps tr WHERE tr.fp = e.fp)
    GROUP BY split
    """,
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal split hygiene: `dataset_split` buckets on the DOC ID
    hash, so byte-identical texts under different ids (mirrors,
    re-crawls — planted here as the id-offset copy corpus) can land
    on both sides of the train/eval boundary. This measures exactly
    that leak: per non-train split, how many documents share an exact
    content fingerprint with ANY train document. The internal
    companion to the external benchmark-decontamination trio — run it
    before publishing a split, feed leaked fps to the dedup pass, or
    switch the split key to the CONTENT cluster (leakage_safe_split)
    when it fires.

    Scale: one scan -> (split, fp) projection, a distinct on the
    train fingerprints, and a fingerprint-keyed LEFT SEMI join + split
    aggregate — the exact incremental-dedup shape; no windows, no
    self-join fan-out."""
    from ..util import portable_id_hash

    corpus = _copy_corpus(load(spark, sf_dir, "documents"))
    b = F.pmod(portable_id_hash(F.col("doc_id")), F.lit(100))
    t = corpus.select(
        F.md5("text").alias("fp"),
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    train_fps = t.filter(F.col("split") == "train").select("fp").distinct()
    leaked = t.filter(F.col("split") != "train").join(
        train_fps, "fp", "left_semi"
    )
    return leaked.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_leaked_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_shared_fps"),
    )


@query(
    "mixture_epoch_allocation",
    oracle=f"""
    WITH by_lang AS (
      SELECT lang,
             CAST(sum(len(regexp_extract_all(text, '{tx.BPE_TOKEN_RE}')))
               AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT lang, n_tokens,
             n_tokens * 1.0 / sum(n_tokens) OVER () AS p,
             2 * sum(n_tokens) OVER () AS budget
      FROM by_lang
    ),
    w AS (
      SELECT lang, n_tokens, budget,
             round(pow(p, {_ALLOC_ALPHA})
                   / sum(pow(p, {_ALLOC_ALPHA})) OVER (), 6) AS weight
      FROM tot
    ),
    r0 AS (
      SELECT *,
             CAST(floor(budget * weight) AS BIGINT) AS target,
             least(CAST(floor(budget * weight) AS BIGINT),
                   {_EPOCH_CAP} * n_tokens) AS alloc
      FROM w
    ),
    r1 AS (
      SELECT *,
             CASE WHEN alloc < {_EPOCH_CAP} * n_tokens THEN
               least(alloc + CAST(floor(
                 (max(budget) OVER () - sum(alloc) OVER ())
                 * round(weight / sum(CASE WHEN alloc < {_EPOCH_CAP} * n_tokens
                                       THEN weight ELSE 0 END) OVER (), 6))
                 AS BIGINT), {_EPOCH_CAP} * n_tokens)
             ELSE alloc END AS alloc1
      FROM r0
    ),
    r2 AS (
      SELECT *,
             CASE WHEN alloc1 < {_EPOCH_CAP} * n_tokens THEN
               least(alloc1 + CAST(floor(
                 (max(budget) OVER () - sum(alloc1) OVER ())
                 * round(weight / sum(CASE WHEN alloc1 < {_EPOCH_CAP} * n_tokens
                                       THEN weight ELSE 0 END) OVER (), 6))
                 AS BIGINT), {_EPOCH_CAP} * n_tokens)
             ELSE alloc1 END AS alloc2
      FROM r1
    )
    SELECT lang, n_tokens, weight,
           CAST(target AS BIGINT) AS target_tokens,
           CAST(alloc2 AS BIGINT) AS allocated_tokens,
           round(alloc2 * 1.0 / n_tokens, 4) AS epochs,
           CAST(CASE WHEN alloc2 >= {_EPOCH_CAP} * n_tokens
                     THEN 1 ELSE 0 END AS INT) AS at_cap
    FROM r2
    """,
)
def mixture_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-aware mixture allocation: turn the temperature
    weights (alpha={_ALLOC_ALPHA}, the temperature_sampling_weights
    formula) into an actual per-language TOKEN allocation for a
    budget of 2x the corpus, capping every language at
    {_EPOCH_CAP} epochs of its available tokens (Muennighoff et al.
    2023 show repeated data decays in value — the cap is the standard
    guard) and waterfalling the capped surplus to the uncapped
    languages over two fixed redistribution rounds. A residual the
    waterfall can't place (everything at cap) stays unallocated —
    visible as epochs < target everywhere.

    Cross-engine parity: weights and redistribution RATIOS are
    rounded to 6dp before use, every token quantity floors to BIGINT,
    and the round count is fixed — so both engines walk the identical
    integer lattice regardless of float-sum order.

    Scale: one language-keyed token aggregate over the corpus; every
    window after that runs on the LANGUAGE-bounded table (a handful
    of rows). The unrolled rounds are fixed-size plan growth, not
    data-dependent iteration."""
    d = load(spark, sf_dir, "documents")
    by_lang = d.groupBy("lang").agg(
        F.sum(tx.token_count_bpe(F.col("text")))
        .cast("long")
        .alias("n_tokens")
    )
    wall = Window.partitionBy()
    tot = by_lang.select(
        "lang",
        "n_tokens",
        (F.col("n_tokens") * 1.0 / F.sum("n_tokens").over(wall)).alias("p"),
        (F.lit(2) * F.sum("n_tokens").over(wall)).alias("budget"),
    )
    pa = F.pow(F.col("p"), F.lit(_ALLOC_ALPHA))
    w = tot.select(
        "lang",
        "n_tokens",
        "budget",
        F.round(pa / F.sum(pa).over(wall), 6).alias("weight"),
    )
    cap = F.lit(_EPOCH_CAP) * F.col("n_tokens")
    r = w.select(
        "*",
        F.floor(F.col("budget") * F.col("weight"))
        .cast("long")
        .alias("target"),
        F.least(
            F.floor(F.col("budget") * F.col("weight")).cast("long"),
            cap.cast("long"),
        ).alias("alloc"),
    )
    for _ in range(2):  # fixed waterfall rounds, mirrored in the oracle
        uncapped_w = F.sum(
            F.when(F.col("alloc") < cap, F.col("weight")).otherwise(0.0)
        ).over(wall)
        surplus = F.max("budget").over(wall) - F.sum("alloc").over(wall)
        bump = F.floor(
            surplus * F.round(F.col("weight") / uncapped_w, 6)
        ).cast("long")
        r = r.select(
            "lang",
            "n_tokens",
            "budget",
            "weight",
            "target",
            F.when(
                F.col("alloc") < cap,
                F.least(F.col("alloc") + bump, cap.cast("long")),
            )
            .otherwise(F.col("alloc"))
            .alias("alloc"),
        )
    return r.select(
        "lang",
        "n_tokens",
        "weight",
        F.col("target").cast("long").alias("target_tokens"),
        F.col("alloc").cast("long").alias("allocated_tokens"),
        F.round(F.col("alloc") * 1.0 / F.col("n_tokens"), 4).alias("epochs"),
        F.when(F.col("alloc") >= cap, 1).otherwise(0).cast("int").alias("at_cap"),
    )


# ---------------------------------------------------------------------------
# Round 9: leave-one-source-out ablation report
# ---------------------------------------------------------------------------

# The doc_quality formula inlined for SQL (same expression as the
# doc_quality oracle — the per-doc score is 4dp-rounded, then scaled
# to an INTEGER milli-score so every per-source sum is exact and the
# ablation algebra below is float-order-independent).
_SQL_Q_MILLI = """CAST(round(round(
        0.4 * least(n_words / 100.0, 1.0)
      + 0.3 * (CASE WHEN n_words > 0
                     AND n_chars * 1.0 / n_words BETWEEN 3 AND 12
                    THEN 1.0 ELSE 0.5 END)
      + 0.3 * (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0
                                 ELSE n_punct * 1.0 / n_chars END) * 4,
                           1.0)), 4) * 10000, 0) AS BIGINT)"""


@query(
    "source_ablation_report",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
             length(text) AS n_chars,
             {tx.sql_token_count_ws('text')} AS n_words,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
               AS n_punct,
             md5(coalesce(text, '')) AS h
      FROM documents
    ),
    per_doc AS (
      SELECT source, h,
             {_SQL_Q_MILLI} AS q,
             CAST(n_words AS BIGINT) AS t
      FROM base
    ),
    src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(q) AS BIGINT) AS sum_q,
             CAST(sum(t) AS BIGINT) AS sum_t
      FROM per_doc GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot,
             CAST(sum(sum_q) AS BIGINT) AS q_tot,
             CAST(sum(sum_t) AS BIGINT) AS t_tot
      FROM src
    ),
    hs AS (
      SELECT h, source, CAST(count(*) AS BIGINT) AS c_hs
      FROM per_doc GROUP BY h, source
    ),
    htot AS (SELECT h, CAST(sum(c_hs) AS BIGINT) AS c_h FROM hs GROUP BY h),
    dupbase AS (
      SELECT CAST(sum(CASE WHEN c_h > 1 THEN c_h ELSE 0 END) AS BIGINT)
               AS dup_docs
      FROM htot
    ),
    delta AS (
      SELECT hs.source,
             CAST(sum(
               (CASE WHEN ht.c_h - hs.c_hs > 1 THEN ht.c_h - hs.c_hs
                     ELSE 0 END)
             - (CASE WHEN ht.c_h > 1 THEN ht.c_h ELSE 0 END)
             ) AS BIGINT) AS d
      FROM hs JOIN htot ht USING (h)
      GROUP BY hs.source
    )
    SELECT s.source,
           s.n_docs AS n_docs_removed,
           CAST(t.n_tot - s.n_docs AS BIGINT) AS remaining_docs,
           round(s.sum_t * 1.0 / t.t_tot, 6) AS token_share_removed,
           round((t.q_tot - s.sum_q) * 1.0
                 / ((t.n_tot - s.n_docs) * 10000.0), 6)
             AS ablated_mean_quality,
           round((db.dup_docs + coalesce(d.d, 0)) * 1.0
                 / (t.n_tot - s.n_docs), 6) AS ablated_dup_rate,
           round((t.q_tot - s.sum_q) * 1.0
                 / ((t.n_tot - s.n_docs) * 10000.0)
                 - t.q_tot * 1.0 / (t.n_tot * 10000.0), 6)
             AS delta_mean_quality
    FROM src s
    CROSS JOIN tot t
    CROSS JOIN dupbase db
    LEFT JOIN delta d ON d.source = s.source
    """,
)
def source_ablation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data ablation: for EVERY source, the
    corpus-level metrics of the corpus WITHOUT it — mean quality,
    exact-duplicate rate, token share removed — computed by window
    ALGEBRA over bounded aggregates, never by re-scanning the corpus
    per source (the mixture analog of markov_attribution's removal
    effect; data-ablation-by-source is the standard first pass of
    mixture tuning, cf. The Pile / Dolma ablations, public method).

    The dup-rate ablation is the subtle part: removing source s can
    turn a cross-source duplicate group UNIQUE, so per-source dup
    counts don't subtract linearly. Identity used: with c_h = docs
    holding hash h and c_hs = those in source s, the remaining dup
    count is sum_h f(c_h - c_hs) with f(x) = x if x > 1 else 0 =
    BASELINE + sum over s's own (h, s) pairs of [f(c_h - c_hs) -
    f(c_h)] — one (hash, source) aggregate plus a per-hash join,
    corpus scanned ONCE.

    Float-order independence: the per-doc quality score (4dp) is
    scaled to an integer milli-score, token counts are integers, and
    every per-source/total sum is an exact BIGINT; only the final
    per-row scalar divisions are floats (deterministic on both
    engines given identical integers)."""
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("h"),
        F.round(tx.quality_score(F.col("text")) * 10000, 0)
        .cast("long")
        .alias("q"),
        tx.token_count_ws(F.col("text")).cast("long").alias("t"),
    )
    # r14: per_doc feeds the per-source aggregate AND the (hash,
    # source) table; hs feeds htot AND the delta join — unpinned, the
    # corpus scored pass (quality_score is the expensive expression)
    # ran 2x and hs 2x (10 scans). "Corpus scanned ONCE" is now
    # literal (guide §3.3).
    per_doc = per_doc.localCheckpoint(eager=False)
    src = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("q").cast("long").alias("sum_q"),
        F.sum("t").cast("long").alias("sum_t"),
    )
    hs = per_doc.groupBy("h", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c_hs")
    ).localCheckpoint(eager=False)
    htot = hs.groupBy("h").agg(F.sum("c_hs").cast("long").alias("c_h"))
    f_ch = F.when(F.col("c_h") > 1, F.col("c_h")).otherwise(F.lit(0))
    rem = F.col("c_h") - F.col("c_hs")
    f_rem = F.when(rem > 1, rem).otherwise(F.lit(0))
    dupbase = htot.agg(F.sum(f_ch).cast("long").alias("dup_docs"))
    delta = (
        hs.join(htot, "h")
        .groupBy("source")
        .agg(F.sum(f_rem - f_ch).cast("long").alias("d"))
    )
    # totals/baseline are 1-row aggregates of the ~|sources|-row table
    tot = src.agg(
        F.sum("n_docs").cast("long").alias("n_tot"),
        F.sum("sum_q").cast("long").alias("q_tot"),
        F.sum("sum_t").cast("long").alias("t_tot"),
    )
    rep = (
        src.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dupbase))
        .join(delta, "source", "left")
    )
    rem_docs = F.col("n_tot") - F.col("n_docs")
    abl_q = (F.col("q_tot") - F.col("sum_q")) * 1.0 / (rem_docs * 10000.0)
    return rep.select(
        "source",
        F.col("n_docs").alias("n_docs_removed"),
        rem_docs.cast("long").alias("remaining_docs"),
        F.round(F.col("sum_t") * 1.0 / F.col("t_tot"), 6).alias(
            "token_share_removed"
        ),
        F.round(abl_q, 6).alias("ablated_mean_quality"),
        F.round(
            (F.col("dup_docs") + F.coalesce(F.col("d"), F.lit(0)))
            * 1.0
            / rem_docs,
            6,
        ).alias("ablated_dup_rate"),
        F.round(
            abl_q - F.col("q_tot") * 1.0 / (F.col("n_tot") * 10000.0), 6
        ).alias("delta_mean_quality"),
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto front) multi-criteria document selection (round 10)
# ---------------------------------------------------------------------------


@query(
    "doc_pareto_front",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CAST(len(list_distinct(
               {tx.SQL_WORDS.format(t="lower(text)")})) AS BIGINT) AS y
      FROM documents WHERE length(trim(text)) > 0
    ),
    perx AS (
      SELECT x, max(y) AS my FROM scored GROUP BY x
    ),
    runx AS (
      SELECT x, my,
             max(my) OVER (ORDER BY x DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS run_max
      FROM perx
    )
    SELECT s.doc_id, s.x AS n_chars, s.y AS distinct_words
    FROM scored s JOIN runx r USING (x)
    WHERE s.y = r.my AND (r.run_max IS NULL OR r.run_max < s.y)
    ORDER BY s.x DESC, s.doc_id
    """,
)
def doc_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto front) operator (Borzsony, Kossmann &
    Stocker ICDE'01, public method) over two maximize-criteria —
    document size (n_chars) and lexical richness (distinct words):
    the documents no other document beats on BOTH axes, i.e. the
    frontier a multi-criteria curation pass keeps when it refuses to
    pick a single weighting. Strict dominance: equal-on-both ties
    both survive.

    The naive skyline is an all-pairs dominance anti-join; the 2D
    sort-based form used here is linear-relational: one aggregate to
    per-x maxima, ONE running-max window over the distinct-x table
    (domain-bounded: x is a length in characters, not a row count),
    and an equi-join back — a doc is on the front iff it holds its
    x-class maximum and strictly beats every y seen at larger x.
    At 100 TB the window input is still only |distinct lengths| rows.

    Determinism: both criteria are exact integers; no floats
    anywhere."""
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    scored = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("x"),
        F.size(F.array_distinct(tx.words(F.lower(F.col("text")))))
        .cast("long")
        .alias("y"),
    )
    perx = scored.groupBy("x").agg(F.max("y").alias("my"))
    wx = Window.orderBy(F.desc("x")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    runx = perx.select(
        "x", "my", F.max("my").over(wx).alias("run_max")
    )
    return (
        scored.join(runx, "x")
        .where(
            (F.col("y") == F.col("my"))
            & (F.col("run_max").isNull() | (F.col("run_max") < F.col("y")))
        )
        .select(
            "doc_id",
            F.col("x").alias("n_chars"),
            F.col("y").alias("distinct_words"),
        )
        .orderBy(F.desc("n_chars"), "doc_id")
    )


# ---------------------------------------------------------------------------
# Round 12: pairwise source quality duels + Bradley-Terry strengths
# ---------------------------------------------------------------------------
#
# The RM-data diagnostics pair: before trusting a quality score to
# build preference pairs, a pipeline owner wants (a) the exact
# pairwise win probability P(q_a > q_b) between sources — the
# stochastic-dominance matrix — and (b) a single strength scale
# consistent with those duels (Bradley-Terry 1952; MM fit per Hunter
# 2004, public methods). Both run on the INTEGER milli quality score
# (the source_ablation_report scale), so all duel counts are exact
# BIGINTs computed via the rank-sum grid trick: wins(a,b) =
# sum_v cnt_a(v) * cum_b(<v) over the DOMAIN-bounded (<= 10001 value)
# grid — never a doc x doc join.

_BT_ITERS = 5

_SQL_WINRATE_CTES = f"""base AS (
      SELECT source,
             length(text) AS n_chars,
             {tx.sql_token_count_ws('text')} AS n_words,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
               AS n_punct
      FROM documents
      WHERE text IS NOT NULL
    ),
    per AS (SELECT source, {_SQL_Q_MILLI} AS q FROM base),
    sq AS (
      SELECT source, q, CAST(count(*) AS BIGINT) AS cnt
      FROM per GROUP BY source, q
    ),
    grid AS (SELECT DISTINCT q FROM sq),
    srcs AS (SELECT DISTINCT source FROM sq),
    cnts AS (
      SELECT s.source, g.q, coalesce(sq.cnt, 0) AS cnt
      FROM srcs s CROSS JOIN grid g
      LEFT JOIN sq ON sq.source = s.source AND sq.q = g.q
    ),
    cum AS (
      SELECT source, q,
             CAST(coalesce(sum(cnt) OVER (
               PARTITION BY source ORDER BY q
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_lt
      FROM cnts
    ),
    wins AS (
      SELECT a.source AS sa, c.source AS sb,
             CAST(sum(a.cnt * c.cum_lt) AS BIGINT) AS w
      FROM sq a JOIN cum c ON c.q = a.q AND c.source <> a.source
      GROUP BY 1, 2
    ),
    tiest AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(sum(a.cnt * b.cnt) AS BIGINT) AS t
      FROM sq a JOIN sq b ON a.q = b.q AND a.source < b.source
      GROUP BY 1, 2
    ),
    ns AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n
           FROM sq GROUP BY source)"""


@query(
    "source_quality_winrates",
    oracle=f"""
    WITH {_SQL_WINRATE_CTES},
    pairsrc AS (
      SELECT a.source AS sa, b.source AS sb
      FROM srcs a JOIN srcs b ON a.source < b.source
    )
    SELECT p.sa AS source_a, p.sb AS source_b,
           na.n AS n_a, nb.n AS n_b,
           CAST(coalesce(w1.w, 0) AS BIGINT) AS wins_a,
           CAST(na.n * nb.n - coalesce(w1.w, 0) - coalesce(t.t, 0)
                AS BIGINT) AS wins_b,
           CAST(coalesce(t.t, 0) AS BIGINT) AS ties,
           round((coalesce(w1.w, 0) + 0.5 * coalesce(t.t, 0))
                 / (na.n * nb.n), 6) AS winrate_a
    FROM pairsrc p
    JOIN ns na ON na.source = p.sa
    JOIN ns nb ON nb.source = p.sb
    LEFT JOIN wins w1 ON w1.sa = p.sa AND w1.sb = p.sb
    LEFT JOIN tiest t ON t.sa = p.sa AND t.sb = p.sb
    """,
)
def source_quality_winrates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise quality duels between sources: for every source
    pair (a, b), the number of document pairs where a's doc outscores
    b's (on the integer milli quality score), the ties, and
    P(q_a > q_b) with ties split — the stochastic-dominance matrix an
    RM-data owner reads before trusting cross-source preference
    pairs.

    Scale: the rank-sum grid trick — per-(source, value) counts, a
    source-PARTITIONED cumulative over the (sources x value-grid)
    table (value domain <= 10001 milli scores, so the grid is
    DOMAIN-bounded like mann_whitney_u's tie table), then
    wins(a, b) = sum_v cnt_a(v) * cum_b(<v) as one equi-join on the
    value — never a doc x doc comparison. Output = source-pair rows."""
    d = load(spark, sf_dir, "documents")
    # NULL-text docs yield q=NULL: they would be counted in n_a/n_b
    # (ns sums all cnt rows) yet can never match the null-unsafe
    # equi-joins on q, silently crediting every such pairing to the
    # derived wins_b remainder — a bias BOTH engines share, so oracle
    # parity cannot catch it. Only duel-eligible docs count.
    per = d.filter(F.col("text").isNotNull()).select(
        "source",
        F.round(tx.quality_score(F.col("text")) * 10000, 0)
        .cast("long")
        .alias("q"),
    )
    # eager checkpoint: sq has 7 downstream consumers (grid, srcs,
    # cnts, both duel sides, ties, ns) and without the cut each one
    # re-scans the corpus and recomputes the quality score (measured:
    # 10 parquet scans in the plan, pinned to <= 2 by
    # test_source_winrates_never_joins_doc_by_doc). The table is
    # DOMAIN-bounded: <= |sources| x 10001 milli values.
    sq = (
        per.groupBy("source", "q")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    grid = sq.select("q").distinct()
    srcs = sq.select("source").distinct()
    cnts = (
        srcs.crossJoin(F.broadcast(grid))
        .join(sq, ["source", "q"], "left")
        .select(
            "source", "q", F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
    )
    w = Window.partitionBy("source").orderBy("q").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = cnts.select(
        F.col("source").alias("sb"),
        "q",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("long")
        .alias("cum_lt"),
    )
    a = sq.select(F.col("source").alias("sa"), "q", "cnt")
    wins = (
        a.join(cum, "q")
        .filter(F.col("sa") != F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.sum(F.col("cnt") * F.col("cum_lt")).cast("long").alias("w"))
    )
    b = sq.select(F.col("source").alias("sb"), "q", F.col("cnt").alias("cnt_b"))
    ties = (
        a.join(b, "q")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).cast("long").alias("t"))
    )
    ns = sq.groupBy("source").agg(F.sum("cnt").cast("long").alias("n"))
    pairsrc = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(F.broadcast(srcs.select(F.col("source").alias("sb"))))
        .filter(F.col("sa") < F.col("sb"))
    )
    wins_a = F.coalesce("w", F.lit(0).cast("long"))
    ties_c = F.coalesce("t", F.lit(0).cast("long"))
    return (
        pairsrc.join(ns.select(F.col("source").alias("sa"), F.col("n").alias("n_a")), "sa")
        .join(ns.select(F.col("source").alias("sb"), F.col("n").alias("n_b")), "sb")
        .join(wins, ["sa", "sb"], "left")
        .join(ties, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_a",
            "n_b",
            wins_a.alias("wins_a"),
            (F.col("n_a") * F.col("n_b") - wins_a - ties_c)
            .cast("long")
            .alias("wins_b"),
            ties_c.alias("ties"),
            F.round(
                (wins_a + 0.5 * ties_c) / (F.col("n_a") * F.col("n_b")), 6
            ).alias("winrate_a"),
        )
    )


def _bt_oracle_sql() -> str:
    """Chained-CTE replication of the {_BT_ITERS}-iteration MM fit,
    rounding at the identical spots as the Spark loop (the
    transition_pagerank lockstep stance)."""
    ctes = [
        f"""m AS MATERIALIZED (
      SELECT w.sa AS i, w.sb AS j,
             2 * w.w + coalesce(t.t, 0) AS wx2,
             na.n * nb.n AS nij
      FROM (
        SELECT p.sa, p.sb, CAST(coalesce(w1.w, 0) AS BIGINT) AS w
        FROM (SELECT a.source AS sa, b.source AS sb
              FROM srcs a JOIN srcs b ON a.source <> b.source) p
        LEFT JOIN wins w1 ON w1.sa = p.sa AND w1.sb = p.sb
      ) w
      LEFT JOIN (
        SELECT sa, sb, t FROM tiest
        UNION ALL
        SELECT sb AS sa, sa AS sb, t FROM tiest
      ) t ON t.sa = w.sa AND t.sb = w.sb
      JOIN ns na ON na.source = w.sa
      JOIN ns nb ON nb.source = w.sb
    ),
    wtot AS MATERIALIZED (SELECT i, sum(wx2) AS wx2 FROM m GROUP BY i),
    nsrc AS (SELECT CAST(count(*) AS BIGINT) AS k FROM srcs),
    it0 AS MATERIALIZED (SELECT source, 1.0 AS p FROM srcs)"""
    ]
    for t in range(_BT_ITERS):
        ctes.append(f"""d{t} AS MATERIALIZED (
      SELECT m.i, sum(round(m.nij / (pi.p + pj.p), 9)) AS d
      FROM m JOIN it{t} pi ON pi.source = m.i
             JOIN it{t} pj ON pj.source = m.j
      GROUP BY m.i
    ),
    praw{t} AS MATERIALIZED (
      SELECT w.i AS source, round((w.wx2 / 2.0) / d.d, 9) AS praw
      FROM wtot w JOIN d{t} d ON d.i = w.i
    ),
    it{t + 1} AS MATERIALIZED (
      SELECT source,
             round(praw * (SELECT k FROM nsrc)
                   / (SELECT sum(praw) FROM praw{t}), 9) AS p
      FROM praw{t}
    )""")
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {_SQL_WINRATE_CTES},
    {chain}
    SELECT source, round(p, 6) AS strength,
           CAST(row_number() OVER (ORDER BY round(p, 6) DESC, source)
                AS INT) AS rank
    FROM it{_BT_ITERS}
    """


@query("bt_source_strengths", oracle=_bt_oracle_sql())
def bt_source_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength per source fitted to the exact pairwise
    quality duels of source_quality_winrates (ties split as half
    wins) — the single consistent scale behind the winrate matrix,
    and the standard model under RM/arena-style pairwise data
    (Bradley & Terry 1952; minorization-maximization fit per Hunter
    2004, {_BT_ITERS} fixed iterations, strengths normalized to mean
    1).

    Portability: duel counts are exact BIGINTs; each iteration's
    denominators, raw strengths and normalized strengths are rounded
    at 9dp on BOTH engines (the transition_pagerank lockstep stance),
    so sub-ULP summation-order drift cannot accumulate across
    iterations.

    Scale: the duel matrix construction is the winrates plan
    (domain-bounded grid); the MM loop then runs on SOURCE-bounded
    tables (|sources|^2 pair rows per iteration) with a fixed
    iteration count — no convergence test, no corpus re-reads, no
    collects."""
    wr = source_quality_winrates(spark, sf_dir)
    both = wr.select(
        F.col("source_a").alias("i"),
        F.col("source_b").alias("j"),
        (2 * F.col("wins_a") + F.col("ties")).cast("long").alias("wx2"),
        (F.col("n_a") * F.col("n_b")).cast("long").alias("nij"),
    ).unionByName(
        wr.select(
            F.col("source_b").alias("i"),
            F.col("source_a").alias("j"),
            (2 * F.col("wins_b") + F.col("ties")).cast("long").alias("wx2"),
            (F.col("n_a") * F.col("n_b")).cast("long").alias("nij"),
        )
    )
    # r15: the MM fit runs DRIVER-SIDE over the collected duel matrix
    # (|sources|^2 rows by construction: the source set is guarded
    # before the matrix is collected, and the pin makes both reads one
    # execution of the winrates plan). The r14 Spark
    # loop — eager checkpoint + four broadcast hints per iteration on
    # |sources|-row tables — paid the local-mode stage-launch floor
    # five times over (~2.6-3.9 s in-bench for microseconds of
    # arithmetic); the transition_shortest_paths/doremi bounded-state
    # stance applies: collect the bounded model, iterate in
    # exactly-replicated arithmetic (every intermediate 9dp HALF_UP,
    # identical to the oracle's unrolled MATERIALIZED CTEs), emit the
    # result. Zero per-round job launches.
    both = ckpt_once(both)
    sources = sorted(
        r.i
        for r in bounded_collect(
            both.select("i").distinct(),
            DRIVER_SOLVE_LIMIT,
            "bt_source_strengths: sources",
        )
    )
    duels = sorted(
        ((r.i, r.j, r.wx2, r.nij) for r in both.collect()),
        key=lambda t: (t[0], t[1]),
    )
    k = len(sources)
    wtot = {s: 0 for s in sources}
    for i, _, wx2, _ in duels:
        wtot[i] += wx2
    p = {s: 1.0 for s in sources}
    for _ in range(_BT_ITERS):
        denom = {s: 0.0 for s in sources}
        for i, j, _, nij in duels:
            denom[i] += round_half_up(nij / (p[i] + p[j]), 9)
        praw = {s: round_half_up((wtot[s] / 2.0) / denom[s], 9) for s in sources}
        tot = sum(praw[s] for s in sources)
        p = {s: round_half_up(praw[s] * k / tot, 9) for s in sources}
    out = sorted(sources, key=lambda s: (-round_half_up(p[s], 6), s))
    return spark.createDataFrame(
        [(s, round_half_up(p[s], 6), i + 1) for i, s in enumerate(out)],
        "source string, strength double, rank int",
    )
