"""Extension-operator queries (SURVEY.md §2.11): text analysis,
dedup (exact / n-gram Jaccard / MinHash / SimHash), vector similarity,
multimodal plumbing.

The testdata documents/embeddings contain no planted duplicates (500
distinct texts; max pairwise embedding cosine ≈ 0.51), so the
near-dup operators run over a CONSTRUCTED corpus — originals plus
deterministic derived copies (truncated text / perturbed vectors),
built with identical expressions in the Spark plan and the DuckDB
oracle. That gives every dedup operator non-trivial, verifiable work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import dedup_text, graph, multimodal, similarity, text as tx
from ..util import (
    DRIVER_SOLVE_LIMIT,
    SessionDFCache,
    bounded_collect,
    round_half_up,
    widen_scan,
)
from .curation import _SQL_Q_MILLI
from .registry import load, query

EMB_DIM = 64

# ---------------------------------------------------------------------------
# Constructed corpora (Spark + SQL twins)
# ---------------------------------------------------------------------------

_COPY_OFFSET = 1_000_000


def _dup_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ exact copies (ids offset). Deliberately NOT
    widen_scan'd here: per-query A/Bs decide (r8 full-registry A/B at
    sf0.1): jaccard/minhash consumers that cache the shingle table and
    lean on AQE runtime broadcasts measured 1.2-3x SLOWER widened, so
    their corpora stay narrow; the r7 portable SimHash became
    hashing-CPU-bound and now measures ~25% FASTER widened, so the
    simhash queries widen at their own load sites."""
    base = docs.select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text")
    return base.unionByName(copies)


_SQL_DUP_CORPUS = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET} AS doc_id, text FROM documents
"""


def _near_dup_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ copies truncated to the first 80% of characters.
    Not widened — same A/B rationale as _dup_corpus."""
    base = docs.select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) * 0.8) as int))"
        ).alias("text"),
    )
    return base.unionByName(copies)


_SQL_NEAR_DUP_CORPUS = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET} AS doc_id,
         substr(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
  FROM documents
"""

# The (did, shingle, h) 3-gram table of the near-dup corpus is the
# front end of SEVEN registered queries (jaccard capped/uncapped,
# minhash capped/uncapped, containment, leakage_safe_split,
# dedup_recall_report) — each paid the normalize + explode + distinct
# + hash pass itself before r10. One SessionDFCache build serves the
# family; per-query caps/bands apply downstream of the shared table,
# so every oracle is untouched.
_ND_SHINGLE_CACHE = SessionDFCache("near_dup_shingles")


def _near_dup_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
        return dedup_text._doc_shingles(
            corpus, "doc_id", "text", 3
        ).withColumn("h", dedup_text._portable_hash(F.col("shingle")))

    return _ND_SHINGLE_CACHE.get_or_build(spark, sf_dir, build)


# The decontamination band tables — bench = source 'src0', corpus =
# everything else plus planted 80%-truncated src0 copies — are built
# IDENTICALLY by minhash_decontamination and
# minhash_decontamination_by_source (the by-source breakdown differs
# only in what it projects off the benchmark side). Each build is a
# full shingle explode + 16 portable permutation minima over the
# planted corpus; one SessionDFCache group serves both (the
# near_dup_shingles stance — narrow corpus-volume table, per-query
# screens downstream, oracles untouched).
_DECON_BANDS_CACHE = SessionDFCache("decon_bands")


def _decon_band_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(band_b, band_c): benchmark-side (did, band, bk) and
    planted-corpus-side (doc_id, band, bk) MinHash band tables at the
    decontamination banding (8x2)."""

    def build() -> tuple[DataFrame, DataFrame]:
        docs = widen_scan(load(spark, sf_dir, "documents"))
        bench = docs.filter(F.col("source") == "src0").select(
            "doc_id", "text"
        )
        corpus = (
            docs.filter(F.col("source") != "src0")
            .select("doc_id", "text")
            .unionByName(
                bench.select(
                    (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
                    F.expr(
                        "substring(text, 1,"
                        " cast(floor(length(text) * 0.8) as int))"
                    ).alias("text"),
                )
            )
        )
        band_b = dedup_text.minhash_portable_bands(
            bench, n=3, num_bands=_DECON_BANDS
        ).select("did", "band", "bk")
        band_c = dedup_text.minhash_portable_bands(
            corpus, n=3, num_bands=_DECON_BANDS
        ).select(F.col("did").alias("doc_id"), "band", "bk")
        return band_b, band_c

    return _DECON_BANDS_CACHE.get_or_build(spark, sf_dir, build)


def _light_edit_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ copies with two appended words: each copy differs
    from its original by exactly two trailing shingles — the
    near-IDENTICAL regime a small-hamming SimHash cutoff targets
    (truncation copies are MinHash's 0.5-0.8 Jaccard regime)."""
    base = docs.select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq zq")).alias("text"),
    )
    return base.unionByName(copies)


_SQL_LIGHT_EDIT_CORPUS = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET} AS doc_id, text || ' zq zq' AS text
  FROM documents
"""


def _with_hot_cluster(base: DataFrame, docs: DataFrame) -> DataFrame:
    """`base` ∪ 20 extra EXACT copies of doc 0 — a planted hot
    cluster: all 21 byte-equal docs share every band key, so any
    banded LSH self-join would pay 21²/2 candidate pairs per band for
    them. The *_capped queries run on such corpora so the hot-bucket
    guard is ACTIVE and oracle-visible at test SF (the
    capped-primary jaccard_near_dups stance). One builder (and one SQL twin,
    ``_sql_with_hot_cluster``) serves every capped corpus so the
    cluster size/offset can never drift between the Spark and oracle
    sides of different queries."""
    hot = (
        docs.filter(F.col("doc_id") == 0)
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(19))).alias("i"), "text"
        )
        .select((F.col("i") + 3 * _COPY_OFFSET).alias("doc_id"), "text")
    )
    return base.unionByName(hot)


def _sql_with_hot_cluster(base_sql: str) -> str:
    return f"""
  {base_sql}
  UNION ALL
  SELECT {3 * _COPY_OFFSET} + r.i AS doc_id, d.text
  FROM documents d, range(20) r(i) WHERE d.doc_id = 0
"""


def _hot_cluster_corpus(docs: DataFrame) -> DataFrame:
    return _with_hot_cluster(_near_dup_corpus(docs), docs)


_SQL_HOT_CLUSTER_CORPUS = _sql_with_hot_cluster(_SQL_NEAR_DUP_CORPUS)


def _chain_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ 80%-truncated copies ∪ 64%-truncated copies: each
    doc yields a CHAIN of three near-duplicates (the 64% copy is the
    80% copy truncated again), so clustering must follow transitive
    links, not just direct pairs."""
    base = docs.select("doc_id", "text")
    c1 = docs.select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(floor(length(text) * 0.8) as int))"
        ).alias("text"),
    )
    c2 = docs.select(
        (F.col("doc_id") + 2 * _COPY_OFFSET).alias("doc_id"),
        F.expr(
            "substring(text, 1, cast(floor("
            "cast(floor(length(text) * 0.8) as int) * 0.8) as int))"
        ).alias("text"),
    )
    return base.unionByName(c1).unionByName(c2)


_SQL_CHAIN_CORPUS = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET} AS doc_id,
         substr(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
  FROM documents
  UNION ALL
  SELECT doc_id + {2 * _COPY_OFFSET} AS doc_id,
         substr(text, 1, CAST(floor(
           CAST(floor(length(text) * 0.8) AS INT) * 0.8) AS INT)) AS text
  FROM documents
"""


def _perturbed_embeddings(emb: DataFrame) -> DataFrame:
    """embeddings (vec_id < 250) ∪ copies with +0.01 on every
    component (cosine to the original stays ≈1 but < 1). The 250-cap
    bounds the O(n²) oracle-checkable baseline — the at-scale path is
    the LSH/IVF bucketed variants, not this query."""
    base = emb.filter(F.col("vec_id") < 250).select("vec_id", "embedding")
    copies = base.select(
        (F.col("vec_id") + _COPY_OFFSET).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(0.01).cast("float")).alias(
            "embedding"
        ),
    )
    return base.unionByName(copies)


_SQL_PERTURBED_EMB = f"""
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 250
  UNION ALL
  SELECT vec_id + {_COPY_OFFSET} AS vec_id,
         list_transform(embedding, x -> (x + CAST(0.01 AS FLOAT))::DOUBLE) AS v
  FROM embeddings WHERE vec_id < 250
"""

# SQL twin of functions.text.normalized_text
_SQL_NORM = "trim(regexp_replace(lower({t}), '[^a-z0-9]+', ' ', 'g'))"
# DuckDB standard string literals keep backslashes as-is — embed the
# regex verbatim (doubling them would turn \s into [backslash,'s'])
_SQL_BPE_RE = tx.BPE_TOKEN_RE
# SQL twin of functions.text.words (on already-normalized text)
_SQL_WORDS = "regexp_split_to_array(trim({t}), '\\s+')"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "doc_token_stats",
    oracle=f"""
    SELECT doc_id,
           {tx.sql_token_count_ws('text')} AS n_tokens_ws,
           len(regexp_extract_all(text, '{_SQL_BPE_RE}')) AS n_tokens_bpe,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex (§2.11 text row)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count_ws(F.col("text")).alias("n_tokens_ws"),
        tx.token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
        F.length("text").alias("n_chars_actual"),
    )


def _sql_lang_case() -> str:
    scores = {l: tx.sql_lang_score("text", l) for l in tx.LANGS}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = "\n".join(
        f"WHEN {scores[l]} = {best} AND {best} > 0 THEN '{l}'" for l in tx.LANGS
    )
    return f"CASE {whens} ELSE 'und' END"


@query(
    "lang_id_distribution",
    oracle=f"""
    SELECT {_sql_lang_case()} AS lang_pred,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def lang_id_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword n-gram scoring) distribution.
    The prediction formula is the contract (deterministic, mirrored in
    SQL) — the synthetic corpus shares one vocabulary across langs, so
    accuracy vs the `lang` label is not the test."""
    d = load(spark, sf_dir, "documents")
    return d.select(tx.lang_id(F.col("text")).alias("lang_pred")).groupBy(
        "lang_pred"
    ).agg(F.count("*").alias("n_docs"))


@query(
    "doc_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             length(text) AS n_chars,
             {tx.sql_token_count_ws('text')} AS n_words,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           n_words,
           round(CASE WHEN n_chars = 0 THEN 0.0
                      ELSE n_punct * 1.0 / n_chars END, 4) AS punct_ratio,
           round(0.4 * least(n_words / 100.0, 1.0)
               + 0.3 * (CASE WHEN n_words > 0
                              AND n_chars * 1.0 / n_words BETWEEN 3 AND 12
                             THEN 1.0 ELSE 0.5 END)
               + 0.3 * (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0
                                          ELSE n_punct * 1.0 / n_chars END) * 4,
                                    1.0)), 4) AS quality
    FROM t
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/word-shape/punctuation composite."""
    d = widen_scan(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        tx.token_count_ws(F.col("text")).alias("n_words"),
        F.round(tx.punct_ratio(F.col("text")), 4).alias("punct_ratio"),
        tx.quality_score(F.col("text")).alias("quality"),
    )


@query(
    "quality_score_calibration",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             length(text) AS n_chars,
             {tx.sql_token_count_ws('text')} AS n_words,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct
      FROM documents
    ),
    q AS (
      SELECT doc_id, source,
             round(0.4 * least(n_words / 100.0, 1.0)
                 + 0.3 * (CASE WHEN n_words > 0
                                AND n_chars * 1.0 / n_words BETWEEN 3 AND 12
                               THEN 1.0 ELSE 0.5 END)
                 + 0.3 * (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0
                                            ELSE n_punct * 1.0 / n_chars END) * 4,
                                      1.0)), 4) AS quality
      FROM t
    )
    SELECT doc_id, source, quality,
           round(percent_rank() OVER (PARTITION BY source
                                      ORDER BY quality, doc_id), 6)
             AS calibrated
    FROM q
    """,
)
def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PERCENTILE calibration of quality scores — the step
    that makes scores comparable ACROSS sources before mixing or
    thresholding: a raw cutoff of e.g. 0.6 means different things for
    a clean-wiki source and a noisy-crawl source, so mixture builders
    (Gopher, CCNet's per-domain buckets) threshold on the WITHIN-
    source percentile instead. calibrated = percent_rank within the
    doc's source, ties pinned by (rounded score, doc_id) so both
    engines rank identically.

    Scale: one scan + one window PARTITIONED BY source — per-source
    sorts run in parallel, no global ordering anywhere. Skewed source
    sizes are a sort-size concern, not a correctness one; at extreme
    skew substitute the sampled-cut-point technique of
    perplexity_buckets."""
    d = load(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "source",
        tx.quality_score(F.col("text")).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    return q.withColumn(
        "calibrated", F.round(F.percent_rank().over(w), 6)
    )


@query(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5({_SQL_NORM.format(t='text')}) AS fp_md5
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over normalized text. The
    order-sensitive rolling-hash variant is doc_rolling_fingerprints."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint_md5(F.col("text")).alias("fp_md5"))


@query(
    "doc_rolling_fingerprints",
    oracle=f"""
    WITH normed AS (
      SELECT doc_id,
             CASE WHEN length({_SQL_NORM.format(t='text')}) = 0
                  THEN CAST([] AS VARCHAR[])
                  ELSE {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))}
             END AS ws
      FROM documents
    )
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(ws, w ->
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(w) + 1),
                                    i -> CAST(ascii(substr(w, i, 1)) AS BIGINT))),
                   (acc, c) -> (acc * 131 + c) % 1000000007))),
             (acc, h) -> (acc * 31 + h) % 1000000007) AS fp_rolling
    FROM normed
    """,
)
def doc_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling-hash fingerprint; the DuckDB
    twin folds the identical polynomial with list_reduce (init value
    supplied via list_prepend), so values hash-match cross-engine."""
    d = widen_scan(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", tx.fingerprint_rolling(F.col("text")).alias("fp_rolling")
    )


@query(
    "gopher_quality_filters",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE {tx.SQL_WORDS.format(t='lower(text)')} END AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, text, ws,
             {tx.sql_ngrams('ws', 2)} AS bg,
             {tx.sql_ngrams('ws', 3)} AS tg
      FROM t
    ),
    m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             CASE WHEN len(ws) = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(ws)
             END AS mwl,
             CASE WHEN len(bg) = 0 THEN 0.0
                  ELSE list_max(list_transform(list_distinct(bg),
                         b -> len(list_filter(bg, x -> x = b)))) * 1.0 / len(bg)
             END AS tbf,
             CASE WHEN len(tg) = 0 THEN 0.0
                  ELSE (len(tg) - len(list_distinct(tg))) * 1.0 / len(tg)
             END AS dtf,
             len(list_intersect(list_distinct(ws),
                                {tx.sql_stopword_list('en')})) AS n_stop
      FROM g
    )
    SELECT doc_id, n_words,
           round(mwl, 4) AS mean_word_len,
           round(tbf, 6) AS top_bigram_frac,
           round(dtf, 6) AS dup_trigram_frac,
           n_stop AS n_stopword_types,
           CAST(CASE WHEN n_words BETWEEN 10 AND 100000
                      AND mwl BETWEEN 3 AND 10
                      AND tbf <= 0.20 AND dtf <= 0.30 AND n_stop >= 2
                     THEN 1 ELSE 0 END AS INT) AS passes_quality
    FROM m
    """,
)
def gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition + shape quality filters (Rae et al.
    2021 'Scaling Language Models' App. A; Raffel et al. 2020 C4 —
    public heuristics), as pure Column expressions: word count,
    mean word length, top-bigram occupancy, duplicate-trigram
    fraction, stopword-type count, and the composite pass flag. All
    JVM-side higher-order functions — per-row arrays never shuffle,
    the plan is scan -> project, so it scales embarrassingly."""
    d = widen_scan(load(spark, sf_dir, "documents"))
    # inline(array(struct)) materializes every metric from ONE
    # evaluation per row; selecting struct fields individually would
    # re-run the whole metric chain once per output column (the
    # interpreted HOF path has no subexpression elimination)
    return d.select(
        "doc_id", F.inline(F.array(tx.gopher_stats(F.col("text"))))
    )


@query(
    "unigram_lm_quality",
    oracle=f"""
    WITH {tx.SQL_UNIGRAM_SCORED_CTES}
    SELECT doc_id, n_tokens, avg_logprob FROM scored
    """,
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: average unigram log-probability
    per document, with probabilities estimated from the corpus itself
    (the KenLM-score step of public pipelines like CCNet, Wenzek et
    al. 2020, reduced to a self-trained unigram model).

    Scale design: two shuffles total. Pass 1 builds the unigram table
    (token explode -> map-side-combinable groupBy word; vocabulary,
    not corpus, cardinality). The corpus total folds in via a 1-row
    broadcast. Pass 2 joins tokens to the BROADCAST vocab table —
    no shuffle of the token stream — and averages per doc (second
    shuffle, keyed on doc_id). At 100 TB the vocab table is MBs;
    broadcasting it is the whole trick. Scoring lives in
    tx.unigram_scored_docs, shared with perplexity_buckets."""
    d = load(spark, sf_dir, "documents")
    return tx.unigram_scored_docs(d)


_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "pii_scan",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                    THEN text || ' reach user' || doc_id || '@example.com now'
                  WHEN doc_id % 7 = 0
                    THEN text || ' from host 10.0.' || (doc_id % 256) || '.1 today'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_RE_EMAIL}')) AS n_emails,
           len(regexp_extract_all(text, '{_RE_IPV4}')) AS n_ips,
           CAST(CASE WHEN len(regexp_extract_all(text, '{_RE_EMAIL}')) > 0
                       OR len(regexp_extract_all(text, '{_RE_IPV4}')) > 0
                     THEN 1 ELSE 0 END AS INT) AS has_pii,
           md5(regexp_replace(regexp_replace(text,
                 '{_RE_EMAIL}', '<EMAIL>', 'g'),
                 '{_RE_IPV4}', '<IP>', 'g')) AS redacted_md5
    FROM corpus
    """,
)
def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (standard pre-training scrub step):
    regex counts for emails and IPv4 literals plus the md5 of the
    redacted text, as pure Column expressions. The corpus plants
    deterministic PII into a subset of docs (mirrored in the oracle)
    so the detectors are exercised, not vacuously zero. Regexes are
    restricted to the Java∩RE2 common syntax so Spark and DuckDB
    match byte-for-byte; the redacted hash proves the replacement
    text itself agrees cross-engine."""
    d = widen_scan(load(spark, sf_dir, "documents"))
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" from host 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 today"),
        ),
    ).otherwise(F.col("text"))
    c = d.select("doc_id", planted.alias("text"))
    n_emails = F.size(F.regexp_extract_all("text", F.lit(_RE_EMAIL), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all("text", F.lit(_RE_IPV4), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace("text", _RE_EMAIL, "<EMAIL>"), _RE_IPV4, "<IP>"
    )
    return c.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        F.when((n_emails > 0) | (n_ips > 0), 1).otherwise(0).cast("int").alias("has_pii"),
        F.md5(redacted).alias("redacted_md5"),
    )


@query(
    "weighted_sample_docs",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             length(text) AS weight,
             (('0x' || substr(md5(text), 1, 8))::BIGINT + 1.0)
               / 4294967297.0 AS uu
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, weight, pow(uu, 1.0 / weight) AS skey FROM u
    )
    SELECT doc_id, weight, round(skey, 6) AS skey
    FROM keyed
    QUALIFY row_number() OVER (
      ORDER BY round(skey, 9) DESC, doc_id) <= 50
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority keys
    (Efraimidis & Spirakis 2006 A-Res — public): key = u^(1/w),
    take the top-k keys; inclusion probability is proportional to
    weight (doc length here; any quality score plugs in). The uniform
    u comes from the document's own content hash, not an RNG — the
    sample is REPRODUCIBLE across runs, engines, and repartitioning,
    which is what an incremental pipeline needs (same property as
    training_mixture's bucket filter, upgraded to weighted-k).

    One scan + a map-side-pruned global top-k (Catalyst plants
    TakeOrderedAndProject: each partition keeps its local top-k and
    the driver merges — no global sort, no single-partition window);
    cross-engine tie order pinned by (round(key, 9) desc, doc_id)."""
    d = load(spark, sf_dir, "documents")
    w = F.length("text")
    u = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") + 1.0
    ) / 4294967297.0
    keyed = d.select(
        "doc_id", w.alias("weight"), F.pow(u, 1.0 / w).alias("skey")
    )
    win = Window.orderBy(F.desc(F.round("skey", 9)), F.col("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 50)
        .select("doc_id", "weight", F.round("skey", 6).alias("skey"))
    )


_MIX_RATES = {"en": "8", "de": "4", "fr": "c"}  # hex-bucket keep thresholds
_MIX_DEFAULT_RATE = "2"
_MIX_WEIGHTS = {"web": 1, "wiki": 3, "code": 2}  # upsample factors by source


@query(
    "training_mixture",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, lang, source
      FROM documents
      WHERE substr(md5(text), 1, 1) <
            CASE lang {' '.join(f"WHEN '{k}' THEN '{v}'" for k, v in _MIX_RATES.items())}
                 ELSE '{_MIX_DEFAULT_RATE}' END
    ),
    weighted AS (
      SELECT doc_id, lang, source,
             CASE source {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items())}
                  ELSE 1 END AS w
      FROM kept
    )
    SELECT doc_id, lang, source,
           CAST(unnest(generate_series(1, w)) AS INT) AS rep
    FROM weighted
    """,
)
def training_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing (the sampling step of a training-data
    pipeline): downsample each language stratum by a CONTENT-HASH
    bucket (keep docs whose md5 first hex digit falls under the
    stratum's rate — reproducible across runs/engines, no RNG state),
    then upsample by per-source repeat factors via explode(sequence).

    Scale notes: the filter is a pure predicate on a scan (no
    shuffle, no sort — unlike rand()-based sampling with a seed,
    which changes under repartitioning); the upsample explodes rows
    map-side. Both stages stream. This hash-bucket technique is the
    standard way to make sampling idempotent for incremental reruns."""
    d = load(spark, sf_dir, "documents")
    rate = F.lit(_MIX_DEFAULT_RATE)
    for k, v in reversed(_MIX_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    kept = d.filter(F.substring(F.md5("text"), 1, 1) < rate)
    w = F.lit(1)
    for k, v in reversed(_MIX_WEIGHTS.items()):
        w = F.when(F.col("source") == k, F.lit(v)).otherwise(w)
    return kept.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.sequence(F.lit(1), w)).alias("rep"),
    ).withColumn("rep", F.col("rep").cast("int"))


@query(
    "doc_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(lower(text), '')) AS ch
      FROM documents
    ),
    hist AS (
      SELECT doc_id, ch, count(*) AS c
      FROM chars WHERE length(ch) > 0
      GROUP BY 1, 2
    ),
    per AS (
      SELECT doc_id,
             list(c ORDER BY ch) AS cs,
             CAST(sum(c) AS BIGINT) AS n_chars,
             count(*) AS n_distinct
      FROM hist GROUP BY doc_id
    )
    SELECT doc_id, n_chars, CAST(n_distinct AS INT) AS n_distinct_chars,
           round(list_reduce(
                   list_transform(cs, c -> -(c / CAST(n_chars AS DOUBLE))
                                           * ln(c / CAST(n_chars AS DOUBLE))),
                   (a, b) -> a + b) + 0.0,
                 4) AS entropy_nats
    FROM per
    """,
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (nats) — the
    classic gibberish / low-diversity quality signal: natural text
    sits near ~3 nats, single-char or repeated-pattern spam collapses
    toward 0, random bytes push higher. Complements the word-level
    Gopher signals with a sub-token view.

    Oracle portability: the entropy fold runs over char counts SORTED
    by character (Spark array_sort == DuckDB list(ORDER BY), both
    binary collation) and folds sequentially (F.aggregate ==
    list_reduce, both left folds with the same seed-0 behavior — the
    trailing +0.0 normalizes -0.0 for single-char docs), p = c/n is a
    single correctly-rounded division, and ln() matches across
    engines at round-4 (the same precedent as the LM-quality logs).

    Scale: explode -> two map-side-combinable groupBys -> bounded
    per-doc array fold (alphabet-sized, Zipf/charset-bounded) — the
    same shape as the BoW build; no window, no shuffle beyond the
    doc-keyed aggregates."""
    d = load(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), "")).alias("ch")
    ).filter(F.length("ch") > 0)
    hist = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    per = hist.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("ch", "c"))).alias("h"),
        F.sum("c").cast("bigint").alias("n_chars"),
        F.count("*").cast("int").alias("n_distinct_chars"),
    )
    p = lambda s: s["c"] / F.col("n_chars").cast("double")  # noqa: E731
    ent = F.aggregate(
        F.transform("h", lambda s: -p(s) * F.log(p(s))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return per.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        F.round(ent, 4).alias("entropy_nats"),
    )


_SOURCE_CAP = 15


@query(
    "source_capped_docs",
    oracle=f"""
    SELECT doc_id, source, CAST(rk AS INT) AS keep_rank
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                        doc_id) AS rk
      FROM documents
    ) WHERE rk <= {_SOURCE_CAP}
    """,
)
def source_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the 'max N pages per domain' guard
    every web-corpus pipeline applies so one crawler-friendly domain
    cannot dominate the mixture): keep at most `_SOURCE_CAP` docs per
    source, chosen by the portable md5 id hash — deterministic across
    runs, engines, and cluster layouts, unlike rand()-ordered
    sampling.

    Scale: row_number over (source) with a rank filter is
    WindowGroupLimit-pruned — each map partition keeps <= cap rows per
    source before the shuffle, so a source with 10^9 docs ships cap
    rows per input partition, never its full row set (plan-pinned in
    test_plan_quality)."""
    from ..util import portable_id_hash

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(portable_id_hash("doc_id"), "doc_id")
    return (
        d.select("doc_id", "source")
        .withColumn("keep_rank", F.row_number().over(w))
        .filter(F.col("keep_rank") <= _SOURCE_CAP)
        .withColumn("keep_rank", F.col("keep_rank").cast("int"))
    )


@query(
    "bigram_lm_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tx.SQL_WORDS.format(t='lower(text)')} AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS b,
             unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1
      FROM toks WHERE len(ws) >= 2
    ),
    bc AS (SELECT b, count(*) AS cb FROM bg GROUP BY b),
    uc AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1),
    vocab AS (SELECT count(DISTINCT w1) AS v FROM bg),
    scored AS (
      SELECT g.doc_id,
             ln((bc.cb + 1.0) / (uc.cu + v)) AS logp
      FROM bg g JOIN bc ON g.b = bc.b JOIN uc ON g.w1 = uc.w1, vocab
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(logp), 6) AS avg_bigram_logprob
    FROM scored GROUP BY doc_id
    """,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing:
    p(w2|w1) = (c(w1 w2)+1) / (c(w1 as history)+V) — one step closer
    to the KenLM scoring of CCNet-style pipelines than the unigram
    proxy. Same scale shape: bigram and history counts are
    vocabulary²-bounded tables BROADCAST onto the bigram stream
    (which itself is a pure projection via the let-bound n-gram
    builder), then one per-doc aggregation."""
    d = widen_scan(load(spark, sf_dir, "documents"))
    ws = tx.words(F.lower(F.col("text")))
    pairs = d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                tx._ngrams(ws, 2),
                F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
                lambda b, w1: F.struct(b.alias("b"), w1.alias("w1")),
            )
        ).alias("p"),
    ).select("doc_id", "p.b", "p.w1")
    # r14: bc, uc and vocab each re-exploded the corpus (4 explode
    # passes per action). b = "w1 w2" determines w1, so ONE pinned
    # (b, w1)-keyed count table supplies all three: cb directly, cu as
    # the exact integer sum over a history's bigrams, V as the exact
    # distinct-history count (guide §2.3 aggregate-before-reuse).
    # 2 corpus explodes total (counts + the scored stream).
    cell = pairs.groupBy("b", "w1").agg(
        F.count("*").alias("cb")
    ).localCheckpoint(eager=False)
    bc = cell.select("b", "cb")
    uc = cell.groupBy("w1").agg(F.sum("cb").cast("long").alias("cu"))
    vocab = cell.agg(F.countDistinct("w1").alias("v"))
    scored = (
        pairs.join(F.broadcast(bc), "b")
        .join(F.broadcast(uc), "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "logp",
            F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("v"))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("avg_bigram_logprob"),
    )


def _kmeans_oracle_ctes(k: int, iters: int, ndims: int) -> str:
    """DuckDB CTE chain replicating the portable k-means EXACTLY:
    same seeds (bottom-k by md5 id hash), same Lloyd schedule, same
    tie-breaks; ends at a{iters} (doc_id, cl) — shared by
    doc_topic_clusters and semantic_diversity_by_source so the two
    oracles cannot drift. Numeric portability argument: centroids are
    always (integer-exact per-dim sums of BoW counts) / n — both
    engines produce the identical correctly-rounded double regardless
    of member order; distances fold dims sequentially 0..ndims-1 on
    both sides (Spark F.aggregate == DuckDB list_reduce, both left
    folds), so every comparison sees bit-identical doubles."""
    sq = (
        f"list_reduce(list_transform(range({ndims}), "
        "i -> (e.v[i+1] - c.v[i+1]) * (e.v[i+1] - c.v[i+1])), "
        "(x, y) -> x + y)"
    )
    ctes = [
        f"""toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    cells AS (
      SELECT doc_id,
             ('0x' || substr(md5(w), 1, 4))::INT % {ndims} AS dim,
             count(*) AS c
      FROM toks GROUP BY 1, 2
    ),
    dense AS (
      SELECT ids.doc_id, d.dim, coalesce(c.c, 0)::DOUBLE AS x
      FROM (SELECT DISTINCT doc_id FROM cells) ids
      CROSS JOIN (SELECT unnest(range({ndims})) AS dim) d
      LEFT JOIN cells c ON c.doc_id = ids.doc_id AND c.dim = d.dim
    ),
    emb AS (
      SELECT doc_id, list(x ORDER BY dim) AS v FROM dense GROUP BY doc_id
    ),
    c0 AS (
      SELECT row_number() OVER (
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT,
                        doc_id) - 1 AS cl,
             v
      FROM emb
      ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT, doc_id
      LIMIT {k}
    )"""
    ]
    for t in range(iters):
        ctes.append(
            f"""d{t} AS (
      SELECT e.doc_id, c.cl, {sq} AS dist
      FROM emb e CROSS JOIN c{t} c
    ),
    a{t} AS (
      SELECT doc_id, cl FROM (
        SELECT doc_id, cl,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY dist, cl) AS rn
        FROM d{t}
      ) WHERE rn = 1
    ),
    s{t} AS (
      SELECT a.cl, d.dim, sum(d.x) AS sx
      FROM a{t} a JOIN dense d USING (doc_id)
      GROUP BY a.cl, d.dim
    ),
    n{t} AS (SELECT cl, count(*) AS n FROM a{t} GROUP BY cl),
    c{t + 1} AS (
      SELECT pc.cl,
             CASE WHEN n.n IS NULL THEN pc.v
                  ELSE (SELECT list(s.sx / n.n ORDER BY s.dim)
                        FROM s{t} s WHERE s.cl = pc.cl)
             END AS v
      FROM c{t} pc LEFT JOIN n{t} n USING (cl)
    )"""
        )
    t = iters
    ctes.append(
        f"""d{t} AS (
      SELECT e.doc_id, c.cl, {sq} AS dist
      FROM emb e CROSS JOIN c{t} c
    ),
    a{t} AS (
      SELECT doc_id, cl FROM (
        SELECT doc_id, cl,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY dist, cl) AS rn
        FROM d{t}
      ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(ctes)


def _kmeans_oracle_sql(k: int, iters: int, ndims: int) -> str:
    return (
        "WITH "
        + _kmeans_oracle_ctes(k, iters, ndims)
        + f"""
    SELECT CAST(cl AS INT) AS cluster, count(*) AS n_docs
    FROM a{iters} GROUP BY cl"""
    )


_PKM_K, _PKM_ITERS, _PKM_DIMS = 8, 4, 64


# The BoW build + driver-side Lloyd loop is consumed by BOTH
# doc_topic_clusters and semantic_diversity_by_source (r12 verdict
# #7); one SessionDFCache entry runs it once per (app, sf_dir) and
# caches the FINAL (doc_id, cluster) assignment.
_TOPIC_ASSIGN_CACHE = SessionDFCache("topic_assignments")


def _topic_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster): final Lloyd assignment, session-cached."""

    def build() -> DataFrame:
        return _portable_kmeans_assignments(spark, sf_dir)

    return _TOPIC_ASSIGN_CACHE.get_or_build(spark, sf_dir, build)


@query(
    "doc_topic_clusters",
    oracle=_kmeans_oracle_sql(_PKM_K, _PKM_ITERS, _PKM_DIMS),
)
def doc_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end document topic clustering: hashed-BoW embeddings ->
    DETERMINISTIC k-means -> cluster cardinalities. Seeds are the k
    docs with the smallest portable md5 id hash (no engine RNG),
    exactly `_PKM_ITERS` Lloyd rounds (no convergence test), ties to
    the lowest cluster index. Every arithmetic step is bit-portable
    (see _kmeans_oracle_ctes), so the DuckDB oracle reproduces the
    full iteration schedule and the final cluster cardinalities
    hash-match. (An earlier MLlib KMeans variant was registered
    rows-only — its k-means|| init RNG is engine-internal and not
    SQL-replicable; this portable formulation is now THE registered
    query, per the round-6 verdict.)

    Scale: per round, ONE distributed job over the checkpointed
    embedding table (64 map-side-combinable sums per cluster); only
    k×(ndims+1) scalars ever reach the driver. The checkpoint keeps
    round N's plan from replaying the BoW build N times — the same
    iterative-lineage stance as functions/graph.py. The final
    assignment is session-cached (shared with
    semantic_diversity_by_source)."""
    return (
        _topic_assignments(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count("*").alias("n_docs"))
    )


def _portable_kmeans_assignments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..util import portable_id_hash

    d = load(spark, sf_dir, "documents")
    emb = similarity.hashed_bow_embeddings(d, n_dims=_PKM_DIMS).localCheckpoint(
        eager=True
    )
    seed_rows = (
        emb.withColumn("h", portable_id_hash("doc_id"))
        .orderBy("h", "doc_id")
        .limit(_PKM_K)
        .collect()
    )
    if len(seed_rows) > _PKM_K:  # LIMIT-bounded by construction
        raise ValueError(
            f"doc_topic_clusters: seed collect returned {len(seed_rows)} "
            f"rows (> k={_PKM_K}); the driver-side seeding assumes a "
            "LIMIT-bounded sample"
        )
    centroids: list[list[float]] = [list(r["embedding"]) for r in seed_rows]
    # corpora with fewer than k non-empty docs seed fewer clusters —
    # iterate over what exists (the oracle's LIMIT k does the same)
    k_eff = len(centroids)

    from ..functions.text import _let

    def assigned(cents: list[list[float]]) -> DataFrame:
        """(cl, embedding) with cl = first-min argmin over `cents`.

        Centroids ship as ONE broadcast 1-row array column, not as
        k x dims inlined literals: the literal form rebuilt a
        ~500-node expression tree per Lloyd round (an A/B showed the
        wall clock is actually dominated by the BoW build + fixed
        per-job overhead, so this is a plan-hygiene change, not a
        speedup — it keeps every round's plan constant-size at any k
        and dims). The per-row arithmetic — zip_with fold in fixed
        dim order, first-min tie-break — is expression-identical, so
        oracle bit-parity is untouched."""
        cents_row = F.broadcast(
            spark.createDataFrame(
                [([list(map(float, c)) for c in cents],)],
                "cents: array<array<double>>",
            )
        )
        dists = F.transform(
            F.col("cents"),
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("embedding"), c, lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            ),
        )
        # let-bind: argmin references the distance array twice
        # (array_min + array_position) and interpreted HOFs have no
        # CSE — unbound, the k x dims fold would run twice per row
        cl = _let(
            dists,
            lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast(
                "int"
            ),
        )
        return emb.crossJoin(cents_row).select(
            "doc_id", cl.alias("cl"), "embedding"
        )

    for _ in range(_PKM_ITERS):
        stats = (
            assigned(centroids)
            .groupBy("cl")
            .agg(
                F.count("*").alias("n"),
                *[
                    F.sum(F.element_at("embedding", i + 1)).alias(f"s{i}")
                    for i in range(_PKM_DIMS)
                ],
            )
            .collect()
        )
        if len(stats) > k_eff:
            # cl is an argmin index over k_eff centroids — more groups
            # than centroids means the assignment expression broke;
            # fail loudly rather than OOM the driver on a bad plan
            raise ValueError(
                f"doc_topic_clusters: {len(stats)} cluster-stat rows "
                f"collected for k={k_eff} centroids"
            )
        updated = {
            r["cl"]: [r[f"s{i}"] / r["n"] for i in range(_PKM_DIMS)]
            for r in stats
        }
        # empty clusters keep their previous centroid (oracle does too)
        centroids = [updated.get(c, centroids[c]) for c in range(k_eff)]

    return assigned(centroids).select(
        "doc_id", F.col("cl").alias("cluster")
    )


@query(
    "semantic_diversity_by_source",
    oracle="WITH "
    + _kmeans_oracle_ctes(_PKM_K, _PKM_ITERS, _PKM_DIMS)
    + f""",
    cell AS (
      SELECT d.source, a.cl, CAST(count(*) AS BIGINT) AS n
      FROM a{_PKM_ITERS} a JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_clusters_used,
             CAST(max(n) AS BIGINT) AS top_n
      FROM cell GROUP BY source
    )
    SELECT c.source, t.n_docs, t.n_clusters_used,
           round(-sum((c.n * 1.0 / t.n_docs)
                      * ln(c.n * 1.0 / t.n_docs)), 6) AS entropy_nats,
           round(exp(-sum((c.n * 1.0 / t.n_docs)
                          * ln(c.n * 1.0 / t.n_docs))), 4)
             AS effective_clusters,
           round(max(t.top_n) * 1.0 / t.n_docs, 6) AS top_cluster_share
    FROM cell c JOIN tot t USING (source)
    GROUP BY c.source, t.n_docs, t.n_clusters_used
    """,
)
def semantic_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semantic-diversity readout per source off the topic clustering
    (r12 verdict #7): Shannon entropy of each source's cluster-share
    distribution, the effective cluster count (exp(entropy), the Hill
    number the mixture-balance literature reads), and the top-cluster
    share — the mixture-balance view next to source_concentration_hhi
    (that one asks 'is a language one crawl domain?'; this one asks
    'is a source one TOPIC?').

    Scale: rides the session-cached (doc_id, cluster) assignment from
    doc_topic_clusters — no new BoW/Lloyd work; one doc_id-keyed join
    to pick up the source, then algebra on the (sources x k)-bounded
    cell table (the tiny-float-sum regime transition_entropy and
    source_concentration_hhi already use)."""
    assign = _topic_assignments(spark, sf_dir)
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    cell = (
        assign.join(src, "doc_id")
        .groupBy("source", "cluster")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cell.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_clusters_used"),
        F.max("n").cast("long").alias("top_n"),
    )
    p = F.col("n") * 1.0 / F.col("n_docs")
    ent = -F.sum(p * F.log(p))
    return (
        cell.join(F.broadcast(tot), "source")
        .groupBy("source", "n_docs", "n_clusters_used")
        .agg(
            F.round(ent, 6).alias("entropy_nats"),
            F.round(F.exp(ent), 4).alias("effective_clusters"),
            F.round(F.max("top_n") * 1.0 / F.col("n_docs"), 6).alias(
                "top_cluster_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@query(
    "exact_dedup_docs",
    oracle=f"""
    WITH corpus AS ({_SQL_DUP_CORPUS})
    SELECT md5(text) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           count(*) AS n_docs
    FROM corpus
    GROUP BY md5(text)
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy) over the duplicated corpus — every
    group must report n_docs=2 with the original as keeper."""
    corpus = _dup_corpus(load(spark, sf_dir, "documents"))
    return dedup_text.exact_dedup_groups(corpus)


@query(
    "jaccard_near_dups_uncapped",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUP_CORPUS}),
    normed AS (
      SELECT doc_id, {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))} AS ws
      FROM corpus
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM normed WHERE len(ws) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shingled a JOIN shingled b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.5
    """,
)
def jaccard_near_dups_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED 3-gram shingle Jaccard — the sf-bounded exact
    baseline behind the registered `jaccard_near_dups` (which runs
    the hot-shingle cap). No shingle-frequency guard: a stopword
    shingle shared by k docs contributes O(k²) candidate pairs, so
    this form is for oracle anchoring and small-corpus audits only —
    at 100 TB use the capped primary."""
    corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
    return dedup_text.jaccard_pairs(
        corpus, threshold=0.5, n=3,
        shingles=_near_dup_shingles(spark, sf_dir),
    )


@query(
    "jaccard_near_dups",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUP_CORPUS}),
    normed AS (
      SELECT doc_id, {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))} AS ws
      FROM corpus
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM normed WHERE len(ws) >= 3
    ),
    freq AS (SELECT shingle, count(*) AS df FROM shingled GROUP BY shingle),
    capped AS (
      SELECT s.doc_id, s.shingle
      FROM shingled s JOIN freq USING (shingle) WHERE df <= 4
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM capped a JOIN capped b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.5
    """,
)
def jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard near-dup pairs over the truncated-copy
    corpus — THE REGISTERED PRIMARY, with the at-scale guard ACTIVE:
    max_shingle_freq=4 drops shingles shared by more than 4 docs
    before the self-join (at 100 TB a stopword shingle is a quadratic
    hot key — the uncapped form's measured failure mode; see
    `jaccard_near_dups_uncapped` for the sf-bounded exact baseline).
    The oracle applies the identical cap — sizes and intersections
    both computed post-cap — so the guard itself is
    correctness-checked, not just unit-tested. Each
    (original, 80%-truncation) pair lands around jaccard ≈ 0.8."""
    corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
    return dedup_text.jaccard_pairs(
        corpus, threshold=0.5, n=3, max_shingle_freq=4,
        shingles=_near_dup_shingles(spark, sf_dir),
    )


# The chain-corpus pairs -> connected-components build is consumed by
# BOTH dedup_clusters and dedup_cluster_representatives (7.3 s
# combined at sf0.1 when each rebuilt it — r10 A/B); one
# SessionDFCache entry runs the shingle join + CC fixpoint once per
# (app, sf_dir).
_CHAIN_ASSIGN_CACHE = SessionDFCache("chain_assignments")


def _chain_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        corpus = _chain_corpus(load(spark, sf_dir, "documents"))
        pairs = dedup_text.jaccard_pairs(corpus, threshold=0.5, n=3)
        return graph.cluster_assignments(
            corpus, pairs, id_col="doc_id", pair_a="doc_a", pair_b="doc_b"
        )

    return _CHAIN_ASSIGN_CACHE.get_or_build(spark, sf_dir, build)


# Shared recursive-CC oracle CTE block (chain corpus -> jaccard pairs
# -> reachability components) used by dedup_clusters,
# dedup_cluster_representatives and dedup_cluster_size_histogram so
# the three oracles cannot drift.
_SQL_CC_COMP_CTES = f"""corpus AS ({_SQL_CHAIN_CORPUS}),
    normed AS (
      SELECT doc_id, {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))} AS ws
      FROM corpus
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM normed WHERE len(ws) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shingled a JOIN shingled b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(node, comp) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node
    ),
    comp AS (
      SELECT node AS doc_id, min(comp) AS component FROM walk GROUP BY node
    )"""


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SQL_CC_COMP_CTES}
    SELECT doc_id, component,
           count(*) OVER (PARTITION BY component) AS cluster_size
    FROM comp
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: the step after any near-dup pair operator.
    Jaccard pairs (threshold 0.5) over the CHAIN corpus feed
    large-star/small-star connected components
    (functions/graph.py); docs with no near-dups stay singleton
    clusters. Each source doc's chain {orig, 80%, 64%} must land in
    one cluster — including via the transitive orig↔64% link when its
    direct similarity is borderline.

    The DuckDB oracle computes the identical pair set, then
    components via a recursive reachability CTE with min-comp
    aggregation — a different algorithm arriving at the same fixed
    point, which is exactly what makes this a strong cross-engine
    check."""
    return _chain_assignments(spark, sf_dir)


@query(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE {_SQL_CC_COMP_CTES},
    sized AS (
      SELECT doc_id, component,
             count(*) OVER (PARTITION BY component) AS cluster_size
      FROM comp
    ),
    tok AS (
      SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len({_SQL_WORDS.format(t='text')}) END AS BIGINT)
               AS n_tokens
      FROM corpus
    )
    SELECT component, doc_id AS rep_doc_id, cluster_size, n_tokens
    FROM sized JOIN tok USING (doc_id)
    QUALIFY row_number()
        OVER (PARTITION BY component ORDER BY n_tokens DESC, doc_id) = 1
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best selection after clustering: one representative per
    near-dup cluster, chosen by token count (desc) with doc_id as the
    deterministic tie-break — the step that turns cluster assignments
    into the actual deduped corpus. On the chain corpus the original
    (longest) document must win over its 80% and 64% truncations.

    Scale: cluster assignment is the CC fixed point (O(log n)
    rounds); the argmax is one row_number window partitioned by
    component — pruned map-side by WindowGroupLimit, never a global
    sort."""
    from pyspark.sql.window import Window as W

    corpus = _chain_corpus(load(spark, sf_dir, "documents"))
    assign = _chain_assignments(spark, sf_dir)
    toks = corpus.select(
        "doc_id", tx.token_count_ws(F.col("text")).cast("bigint").alias("n_tokens")
    )
    win = W.partitionBy("component").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return (
        assign.join(toks, "doc_id")
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_doc_id"),
            "cluster_size",
            "n_tokens",
        )
    )


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_SQL_CC_COMP_CTES},
    csize AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component
    ),
    tot AS (SELECT CAST(sum(cluster_size) AS BIGINT) AS n_docs_total
            FROM csize)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
           CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_removed,
           round(count(*) * cluster_size * 1.0
                 / (SELECT n_docs_total FROM tot), 6) AS doc_share
    FROM csize GROUP BY cluster_size
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DIAGNOSTICS readout over the clustering step: how
    many near-dup clusters exist at each size, how many documents
    they hold, and how many a keep-one-representative pass removes —
    the distribution a corpus owner reads before choosing a dedup
    threshold (a fat tail of giant clusters means boilerplate or a
    too-low threshold; all-singletons means the threshold bites
    nothing).

    Scale: rides the session-cached CC assignment (shared with
    dedup_clusters / dedup_cluster_representatives — no new pair or
    fixpoint work), then two map-side-combinable aggregates; output
    cardinality = number of distinct cluster sizes."""
    assign = _chain_assignments(spark, sf_dir)
    per_cluster = assign.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    total = per_cluster.agg(
        F.sum("cluster_size").cast("long").alias("n_docs_total")
    )
    return (
        per_cluster.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .crossJoin(F.broadcast(total))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size"))
            .cast("long")
            .alias("n_docs"),
            (F.col("n_clusters") * (F.col("cluster_size") - 1))
            .cast("long")
            .alias("n_removed"),
            F.round(
                F.col("n_clusters")
                * F.col("cluster_size")
                * 1.0
                / F.col("n_docs_total"),
                6,
            ).alias("doc_share"),
        )
    )


@query(
    "dedup_cluster_best_keeper",
    oracle=f"""
    WITH RECURSIVE {_SQL_CC_COMP_CTES},
    q AS (
      SELECT doc_id, {_SQL_Q_MILLI} AS q_milli
      FROM (
        SELECT doc_id,
               length(text) AS n_chars,
               {tx.sql_token_count_ws('text')} AS n_words,
               length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                 AS n_punct
        FROM corpus
      )
    ),
    sized AS (
      SELECT doc_id, component,
             CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
               AS cluster_size
      FROM comp
    )
    SELECT component, doc_id AS keeper_doc_id, cluster_size,
           q_milli AS keeper_q_milli
    FROM sized JOIN q USING (doc_id)
    QUALIFY row_number() OVER (PARTITION BY component
                               ORDER BY q_milli DESC, doc_id) = 1
    """,
)
def dedup_cluster_best_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection after clustering (r12 verdict
    #5): one keeper per near-dup cluster chosen by HIGHEST quality
    score (FineWeb/RefinedWeb practice — real corpus builds keep the
    best member, not the lowest id), deterministic min-id tie-break.
    The integer milli quality scale is source_quality_winrates'
    (shared _SQL_Q_MILLI snippet), so cross-engine float drift cannot
    flip an argmax.

    Scale: rides the session-cached CC assignment (shared with the
    whole dedup_clusters family — no new pair or fixpoint work), then
    ONE max_by aggregate keyed by component with map-side partial
    aggregation — cheaper than the row_number window the
    representatives query uses (no per-partition sort materialized),
    chosen deliberately as the at-scale form."""
    corpus = _chain_corpus(load(spark, sf_dir, "documents"))
    assign = _chain_assignments(spark, sf_dir)
    q = corpus.select(
        "doc_id",
        F.round(tx.quality_score(F.col("text")) * 10000, 0)
        .cast("long")
        .alias("q_milli"),
    )
    # argmax by (q_milli, -doc_id): highest quality, then LOWEST id —
    # one struct-ordered max_by instead of a window sort
    ordk = F.struct(
        F.col("q_milli").alias("q"), (-F.col("doc_id")).alias("nid")
    )
    return (
        assign.join(q, "doc_id")
        .groupBy("component")
        .agg(
            F.max_by("doc_id", ordk).alias("keeper_doc_id"),
            F.max("cluster_size").cast("long").alias("cluster_size"),
            F.max("q_milli").alias("keeper_q_milli"),
        )
    )


@query(
    "incremental_dedup_docs",
    oracle=f"""
    WITH corpus AS (SELECT md5(text) AS h FROM documents),
    batch AS (
      SELECT doc_id + {_COPY_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + {2 * _COPY_OFFSET} AS doc_id,
             text || ' fresh addition' AS text
      FROM documents
      UNION ALL
      SELECT doc_id + {3 * _COPY_OFFSET} AS doc_id,
             text || ' fresh addition' AS text
      FROM documents WHERE doc_id % 4 = 0
    ),
    hashed AS (SELECT doc_id, md5(text) AS content_hash FROM batch),
    fresh AS (
      SELECT h.* FROM hashed h
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = h.content_hash)
    )
    SELECT doc_id, content_hash
    FROM fresh
    QUALIFY doc_id = min(doc_id) OVER (PARTITION BY content_hash)
    """,
)
def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: an incoming batch (one third exact
    re-sends of corpus docs, plus fresh docs, a quarter of which are
    duplicated inside the batch) deduped against the corpus hash index
    and itself. Re-sent docs must vanish via the anti-join; in-batch
    duplicates keep the min id; fresh singletons survive."""
    docs = load(spark, sf_dir, "documents")
    batch = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text")
        .unionByName(
            docs.select(
                (F.col("doc_id") + 2 * _COPY_OFFSET).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" fresh addition")).alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 3 * _COPY_OFFSET).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" fresh addition")).alias("text"),
            )
        )
    )
    return dedup_text.incremental_exact_dedup(batch, docs)


# ---------------------------------------------------------------------------
# Vector similarity
# ---------------------------------------------------------------------------


@query(
    "embedding_topk",
    oracle="""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                        sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                 FROM embeddings),
    q AS (SELECT * FROM emb WHERE vec_id < 10),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
      FROM q, emb c WHERE q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id,
           CAST(rank AS INT) AS rank,
           round(sim, 6) AS sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY round(sim, 9) DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= 5
    """,
)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for queries vec_id < 10 (exact ANN
    baseline). Ranking on round(sim,9) pins cross-engine tie order."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.cosine_topk(emb, queries, k=5)
    return out


@query(
    "embedding_near_dups",
    oracle=f"""
    WITH corpus0 AS ({_SQL_PERTURBED_EMB}),
    corpus AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM corpus0)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.995
    """,
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the perturbed corpus —
    each (original, +0.01 copy) pair has cosine ≈ 0.9968."""
    corpus = _perturbed_embeddings(load(spark, sf_dir, "embeddings"))
    return similarity.cosine_near_dup_pairs(corpus, threshold=0.995)


@query(
    "embedding_norm_by_label",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
             AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregate: average L2 norm per label."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg(similarity.norm(F.col("embedding"))), 4).alias("avg_norm"),
    )


@query(
    "doc_bow_embeddings",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    cells AS (
      SELECT doc_id,
             ('0x' || substr(md5(w), 1, 4))::INT % 64 AS dim,
             count(*) AS c
      FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           count(*) AS nnz,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(sqrt(sum(c * c * 1.0)), 4) AS l2_norm
    FROM cells GROUP BY doc_id
    """,
)
def doc_bow_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding GENERATION: hashed bag-of-words vectors from the
    documents table (similarity.hashed_bow_embeddings), summarized to
    oracle-checkable per-doc stats (nnz / total count / L2 norm)
    computed FROM the assembled dense vector — so the hash-mod
    bucketing, map assembly, and densification are all on the checked
    path. The dense output feeds quantize_int8 / quantized_rerank_topk
    directly (pinned in test_extensions)."""
    d = load(spark, sf_dir, "documents")
    emb = similarity.hashed_bow_embeddings(d, n_dims=64)

    def stats(v):
        nnz = F.size(F.filter(v, lambda x: x > 0))
        total = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
        l2 = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        return F.struct(
            nnz.alias("nnz"),
            total.cast("long").alias("n_tokens"),
            F.round(l2, 4).alias("l2_norm"),
        )

    from ..functions.text import _let

    return emb.select("doc_id", F.inline(F.array(_let(F.col("embedding"), stats))))


@query(
    "doc_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({tx.SQL_WORDS.format(t='lower(text)')}) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    weighted AS (
      SELECT tf.doc_id, tf.w,
             tf.tf * ln((n_docs + 1.0) / (df + 1.0)) AS weight
      FROM tf JOIN df USING (w), n
    )
    SELECT doc_id,
           w AS top_term,
           round(weight, 6) AS tfidf
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY round(weight, 9) DESC, w) AS rk
      FROM weighted
    ) WHERE rk = 1
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term weighting (smoothed idf = ln((N+1)/(df+1))) with
    the most distinctive term per document. Corpus statistics follow
    the same scale shape as unigram_lm_quality: term frequencies are
    a map-side-combinable groupBy, document frequencies and the doc
    count are vocabulary-sized tables BROADCAST back onto the term
    stream, and the final top-term pick is a per-doc window (one
    shuffle on doc_id) with WindowGroupLimit pushdown. Ties pinned
    cross-engine by (round(weight, 9) desc, term)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tx.words(F.lower(F.col("text")))).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    weighted = (
        tf.join(F.broadcast(df_t), "w")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "weight",
            F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        )
    )
    wdw = Window.partitionBy("doc_id").orderBy(
        F.desc(F.round("weight", 9)), F.col("w")
    )
    return (
        weighted.withColumn("rk", F.row_number().over(wdw))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("w").alias("top_term"),
            F.round("weight", 6).alias("tfidf"),
        )
    )


@query(
    "embedding_quantized",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             CASE WHEN amax = 0.0 THEN 0.0 ELSE 127.0 / amax END AS scale
      FROM q
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST(list_sum(list_transform(v, x -> CAST(round(x * scale, 0) AS INT)))
                AS BIGINT) AS q_sum,
           list_min(list_transform(v, x -> CAST(round(x * scale, 0) AS INT))) AS q_min,
           list_max(list_transform(v, x -> CAST(round(x * scale, 0) AS INT))) AS q_max
    FROM s
    """,
)
def embedding_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column
    (similarity.quantize_int8): per-vector scale and the quantized
    array's sum/min/max — the summary stats make the full int8 array
    value-checkable against DuckDB without hashing arrays."""
    emb = load(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb)
    return q.select(
        "vec_id",
        "scale",
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


@query(
    "embedding_rerank_topk",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
      FROM embeddings
    ),
    qz AS (
      SELECT vec_id, v,
             CASE WHEN amax = 0.0 THEN 0.0 ELSE 127.0 / amax END AS s
      FROM base
    ),
    rec AS (
      SELECT vec_id, v,
             CASE WHEN round(s, 6) > 0
                  THEN list_transform(v, x -> round(x * s, 0) / round(s, 6))
                  ELSE list_transform(v, x -> 0.0) END AS rv
      FROM qz
    ),
    recn AS (
      SELECT vec_id, v, rv,
             sqrt(list_dot_product(rv, rv)) AS rn,
             sqrt(list_dot_product(v, v)) AS nrm
      FROM rec
    ),
    approx AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.rv, c.rv) / (q.rn * c.rn) AS asim
      FROM recn q JOIN recn c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY round(asim, 9) DESC, neighbor_id) AS rn
        FROM approx
      ) WHERE rn <= 20
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
      FROM short s
      JOIN recn q ON q.vec_id = s.query_id
      JOIN recn c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(sim, 6) AS sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY round(sim, 9) DESC, neighbor_id) AS rank
      FROM rer
    ) WHERE rank <= 5
    """,
)
def embedding_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN (int8-quantized prefilter -> exact re-rank on the
    shortlist of 20), FULLY oracle-checked: the int8 codes are already
    value-portable (embedding_quantized pins them), the reconstruction
    divides each code by the 6-dp-rounded scale — pure arithmetic both
    engines reproduce bit-for-bit — and both ranking windows pin ties
    via round(·, 9) then neighbor id. Recall vs embedding_topk is also
    pinned in tests."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.quantized_rerank_topk(emb, queries, k=5, shortlist=20)


# IVF coarse quantizer (portable integer-grid Lloyd — the same
# bit-portability construction as embedding_pq_topk, see
# plans/corpus.py: grid inputs make every Lloyd sum order-independent)
_IVF_K = 16       # coarse cells
_IVF_ITERS = 4    # Lloyd rounds
_IVF_PROBE = 4    # cells searched per query
_IVF_TOPK = 5
_IVF_SCALE = 1000  # input quantization grid
_IVF_TRAIN = 1024  # quantizer training sample (bottom-N by portable hash)


def _ivf_oracle_sql() -> str:
    """DuckDB SQL replicating embedding_ivf_topk bit-exactly: same
    integer-grid inputs, portable-hash training sample and seed rule,
    Lloyd schedule, first-min tie-breaks, probe order, and final
    cosine ranking. Portability argument identical to
    plans/corpus._pq_oracle_sql (integer-valued double sums are exact
    in any accumulation order; distance folds run dims in fixed
    order on both engines)."""
    sq = (
        f"list_reduce(list_transform(range({EMB_DIM}), "
        "i -> ({a}[i + 1] - {b}[i + 1]) * ({a}[i + 1] - {b}[i + 1])), "
        "(x, y) -> x + y)"
    )
    hord = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT"
    ctes = [
        f"""emb AS (
      SELECT vec_id,
             embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
             list_transform(embedding::DOUBLE[], x -> round(x * {_IVF_SCALE})) AS g
      FROM embeddings
    ),
    train AS (
      SELECT vec_id, g FROM (
        SELECT vec_id, g, row_number() OVER (ORDER BY {hord}, vec_id) AS rn
        FROM emb
      ) WHERE rn <= {_IVF_TRAIN}
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY {hord}, vec_id) - 1 AS cl, g AS cv
      FROM train
      ORDER BY {hord}, vec_id
      LIMIT {_IVF_K}
    ),
    dd AS (
      SELECT vec_id, unnest(range({EMB_DIM})) AS dim, unnest(g) AS x FROM train
    )"""
    ]
    for t in range(_IVF_ITERS):
        d = sq.format(a="e.g", b="c.cv")
        ctes.append(
            f"""d{t} AS (
      SELECT e.vec_id, c.cl, {d} AS dist
      FROM train e CROSS JOIN c{t} c
    ),
    a{t} AS (
      SELECT vec_id, cl FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rn
        FROM d{t}
      ) WHERE rn = 1
    ),
    s{t} AS (
      SELECT a.cl, d.dim, sum(d.x) AS sx
      FROM a{t} a JOIN dd d USING (vec_id)
      GROUP BY a.cl, d.dim
    ),
    n{t} AS (SELECT cl, count(*) AS n FROM a{t} GROUP BY cl),
    c{t + 1} AS (
      SELECT pc.cl,
             CASE WHEN n.n IS NULL THEN pc.cv
                  ELSE (SELECT list(s.sx / n.n ORDER BY s.dim)
                        FROM s{t} s WHERE s.cl = pc.cl)
             END AS cv
      FROM c{t} pc LEFT JOIN n{t} n USING (cl)
    )"""
        )
    T = _IVF_ITERS
    assign_d = sq.format(a="e.g", b="c.cv")
    probe_d = sq.format(a="q.g", b="c.cv")
    ctes.append(
        f"""assign AS (
      SELECT vec_id, cl AS cell FROM (
        SELECT e.vec_id, c.cl,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {assign_d}, c.cl) AS rn
        FROM emb e CROSS JOIN c{T} c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cl AS cell FROM (
        SELECT q.vec_id, c.cl,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {probe_d}, c.cl) AS rn
        FROM emb q CROSS JOIN c{T} c
        WHERE q.vec_id < 10
      ) WHERE rn <= {_IVF_PROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM qprobe p JOIN assign a USING (cell)
      WHERE p.query_id <> a.vec_id
    ),
    sims AS (
      SELECT c.query_id, c.neighbor_id,
             list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS sim
      FROM cand c
      JOIN emb q ON q.vec_id = c.query_id
      JOIN emb n ON n.vec_id = c.neighbor_id
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(sim, 6) AS sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY round(sim, 9) DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= {_IVF_TOPK}
    """
    )


@query("embedding_ivf_topk", oracle=_ivf_oracle_sql())
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate top-k with a PORTABLE coarse
    quantizer, fully oracle-checked: inputs snap to an integer grid
    (round(x*1000)) so every Lloyd sum is a sum of integer-valued
    doubles — exact in any accumulation order (the embedding_pq_topk
    construction, plans/corpus.py) — and the quantizer trains
    driver-side over a BOUNDED `_IVF_TRAIN` sample (bottom-N by
    portable md5 id hash; seeds = the first `_IVF_K` of the same
    ordering), so training cost is corpus-size-independent, the FAISS
    stance. Corpus cells assign via a first-min argmin (ties to the
    lowest cell, matching the oracle's ORDER BY dist, cl); each query
    probes its `_IVF_PROBE` nearest cells; final ranking is exact
    cosine on the full-precision vectors with round(·,9)+id tie-break.
    Recall against exact top-k is pinned in test_extensions.

    Scale: training reads `_IVF_TRAIN`×`EMB_DIM` doubles to the driver
    once; cell assignment is one linear projection against literal
    centroids (no shuffle); the probe table is nq×`_IVF_PROBE` rows
    broadcast onto the cell-keyed corpus — the crossJoin shrinks by
    ~n_cells/n_probe."""
    import numpy as np

    from ..functions.text import _let
    from ..util import portable_id_hash

    base = widen_scan(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    grid = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x: F.round(x * _IVF_SCALE, 0),
    )
    train_rows = (
        base.select(
            "vec_id", grid.alias("g"), portable_id_hash("vec_id").alias("h")
        )
        .orderBy("h", "vec_id")
        .limit(_IVF_TRAIN)
        .collect()
    )
    X = np.array([list(r["g"]) for r in train_rows], dtype=np.float64)
    k_eff = min(_IVF_K, len(train_rows))
    # driver-side Lloyd over the bounded sample; bit-parity with the
    # oracle per the PQ argument: explicit elementwise (x-c)*(x-c),
    # left-fold dim adds, np.argmin first-min == ORDER BY dist, cl,
    # integer-grid sums exact in any order, centroid = exact sum/n.
    C = X[:k_eff].copy()
    for _ in range(_IVF_ITERS):
        diff = X[:, None, :] - C[None, :, :]
        sqd = diff * diff  # explicit multiply (not **2) for IEEE parity
        d = sqd[..., 0]
        for i in range(1, EMB_DIM):
            d = d + sqd[..., i]
        codes = np.argmin(d, axis=1)
        for j in range(k_eff):
            mask = codes == j
            if mask.any():
                C[j] = X[mask].sum(axis=0) / mask.sum()
    cents = [[float(x) for x in row] for row in C]

    def sqdist(a: F.Column, b: F.Column) -> F.Column:
        # fixed-order left fold == the oracle's list_reduce
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cent_lit = F.array(*[F.array(*[F.lit(v) for v in c]) for c in cents])
    # argmin cell: dists let-bound so the 16×64 fold evaluates once per
    # row (interpreted HOFs have no CSE — see text._let)
    cell_expr = _let(
        _let(grid, lambda g: F.transform(cent_lit, lambda c: sqdist(g, c))),
        lambda ds: (F.array_position(ds, F.array_min(ds)) - 1).cast("int"),
    )
    dvec = F.col("embedding").cast("array<double>")
    assigned = base.select(
        F.col("vec_id").alias("neighbor_id"),
        dvec.alias("cv"),
        similarity.norm(dvec).alias("cnorm"),
        cell_expr.alias("cell"),
    )

    cent_df = spark.createDataFrame(
        [(i, cents[i]) for i in range(k_eff)], "cell int, cv array<double>"
    )
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        dvec.alias("qv"),
        similarity.norm(dvec).alias("qnorm"),
        grid.alias("qg"),
    )
    qcells = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("dist", sqdist(F.col("qg"), F.col("cv")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist", "cell")
            ),
        )
        .filter(F.col("rn") <= _IVF_PROBE)
        .select("query_id", "qv", "qnorm", "cell")
    )
    cand = F.broadcast(qcells).join(assigned, "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("sim", 9)), F.col("neighbor_id")
    )
    return (
        cand.withColumn(
            "sim",
            similarity.dot(F.col("qv"), F.col("cv"))
            / (F.col("qnorm") * F.col("cnorm")),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("sim", 6).alias("sim"),
        )
    )


_LSHT_T = 8  # hyperplane tables (top-k variant)
_LSHT_B = 4  # bits per table — shallower buckets than the near-dup
#              variant: top-k needs a candidate POOL per query, not
#              just high-precision collisions


@query(
    "embedding_lsh_topk",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    planes AS (
      SELECT t, b, d,
             ('0x' || substr(md5('pl:' || t || ':' || b || ':' || d), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS p
      FROM range({_LSHT_T}) r1(t), range({_LSHT_B}) r2(b), range({EMB_DIM}) r3(d)
    ),
    rel AS (
      SELECT vec_id, unnest(range(0, {EMB_DIM})) AS d, unnest(v) AS x
      FROM corpus
    ),
    proj AS (
      SELECT vec_id, t, b, round(sum(x * p), 6) AS s
      FROM rel JOIN planes USING (d)
      GROUP BY 1, 2, 3
    ),
    buckets AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q
      JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
      WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    ),
    sims AS (
      SELECT query_id, neighbor_id,
             list_dot_product(cq.v, cc.v) / (cq.nrm * cc.nrm) AS sim
      FROM cand
      JOIN corpus cq ON cq.vec_id = query_id
      JOIN corpus cc ON cc.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(sim, 6) AS sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY round(sim, 9) DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= 5
    """,
)
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k with PORTABLE (md5-derived)
    hyperplanes, fully oracle-checked — candidate generation included:
    bucket tables are computed ONCE over the corpus (the query side is
    a vec_id filter of the same table, exactly as in the oracle, so no
    Spark-internal re-aggregation can drift a 6-dp-rounded projection
    across the two sides); candidates share any (table, bucket) cell;
    exact cosine + round(·,9)+id tie-broken top-5 within candidates.
    Recall against exact top-k is pinned in test_extensions.

    Scale: the (t, bucket) equi-join replaces the crossJoin — corpus
    buckets shuffle once, the filtered query buckets broadcast."""
    emb = load(spark, sf_dir, "embeddings")
    buckets = similarity.lsh_portable_buckets(
        emb, dim=EMB_DIM, num_tables=_LSHT_T, bits=_LSHT_B
    )
    qb = buckets.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "t", "bucket"
    )
    cb = buckets.select(F.col("vec_id").alias("neighbor_id"), "t", "bucket")
    cand = (
        F.broadcast(qb)
        .join(cb, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    dvec = F.col("embedding").cast("array<double>")
    vecs = emb.select(
        "vec_id", dvec.alias("v"), similarity.norm(dvec).alias("nrm")
    )
    q = vecs.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("sim", 9)), F.col("neighbor_id")
    )
    return (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "sim",
            similarity.dot(F.col("qv"), F.col("cv"))
            / (F.col("qn") * F.col("cn")),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("sim", 6).alias("sim"),
        )
    )


@query(
    "user_activity_similarity_uncapped",
    oracle="""
    WITH series AS (
      SELECT user_id, CAST(strftime(ts, '%d') AS INT) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    norms AS (
      SELECT user_id, sqrt(sum(n * n)) AS nrm FROM series GROUP BY user_id
    ),
    dots AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(sum(a.n * b.n) AS BIGINT) AS dp
      FROM series a JOIN series b ON a.day = b.day AND a.user_id < b.user_id
      GROUP BY 1, 2
    )
    SELECT user_a, user_b,
           round(dp / (na.nrm * nb.nrm), 6) AS sim
    FROM dots
    JOIN norms na ON na.user_id = user_a
    JOIN norms nb ON nb.user_id = user_b
    WHERE dp / (na.nrm * nb.nrm) >= 0.8
    """,
)
def user_activity_similarity_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED sparse cosine — the sf-bounded exact baseline behind
    the registered `user_activity_similarity` (which prunes hot days
    before the self-join). The day dimension has at most 31 distinct
    values, so at any real user count EVERY day is a hot key and the
    uncapped pair join fans out ~n²/31 — the same k²-per-bucket
    blowup the capped minhash/jaccard primaries guard against. Keep
    this form for small-SF recall anchoring only; never run it at
    scale."""
    e = load(spark, sf_dir, "events")
    series = e.groupBy(
        "user_id", F.dayofmonth("ts").cast("int").alias("day")
    ).agg(F.count("*").alias("n"))
    return similarity.sparse_cosine_pairs(
        series, "user_id", "day", "n", threshold=0.8, max_keys_per_dim=None
    ).select(
        F.col("key_a").alias("user_a"),
        F.col("key_b").alias("user_b"),
        "sim",
    )


@query(
    "user_activity_similarity",
    oracle="""
    WITH series AS (
      SELECT user_id, CAST(strftime(ts, '%d') AS INT) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    freq AS (SELECT day, count(*) AS df FROM series GROUP BY day),
    capped AS (
      SELECT s.* FROM series s JOIN freq USING (day) WHERE df <= 134
    ),
    norms AS (
      SELECT user_id, sqrt(sum(n * n)) AS nrm FROM series GROUP BY user_id
    ),
    dots AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(sum(a.n * b.n) AS BIGINT) AS dp
      FROM capped a JOIN capped b ON a.day = b.day AND a.user_id < b.user_id
      GROUP BY 1, 2
    )
    SELECT user_a, user_b,
           round(dp / (na.nrm * nb.nrm), 6) AS sim
    FROM dots
    JOIN norms na ON na.user_id = user_a
    JOIN norms nb ON nb.user_id = user_b
    WHERE dp / (na.nrm * nb.nrm) >= 0.4
    """,
)
def user_activity_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity PRIMARY (SURVEY §2.11): cosine over
    per-user daily activity vectors, computed RELATIONALLY by
    ``similarity.sparse_cosine_pairs`` — sparse vectors as (user, day,
    count) rows, pairwise dot products via an equi-join on the day
    dimension, norms joined in. No materialized dense vectors, no
    crossJoin.

    HOT-DIMENSION GUARD ACTIVE (r9 swap, same pattern as the capped
    minhash/jaccard primaries): max_keys_per_dim=134 drops days on
    which more than 134 users were active BEFORE the day self-join.
    The day dimension has at most 31 distinct values, so uncapped the
    pair join is ~n²/31 at any real scale — a spike day is a
    quadratic hot key. Norms stay exact, so capping only
    under-estimates similarity — the threshold is lowered to 0.4 to
    keep the surviving pair set non-trivial at test SF. The oracle
    applies the identical cap, making the guard itself
    correctness-checked; `user_activity_similarity_uncapped` remains
    the sf-bounded exact baseline."""
    e = load(spark, sf_dir, "events")
    series = e.groupBy(
        "user_id", F.dayofmonth("ts").cast("int").alias("day")
    ).agg(F.count("*").alias("n"))
    return similarity.sparse_cosine_pairs(
        series, "user_id", "day", "n", threshold=0.4, max_keys_per_dim=134
    ).select(
        F.col("key_a").alias("user_a"),
        F.col("key_b").alias("user_b"),
        "sim",
    )


_PACK_BIN = 2048  # tokens per training bin
_PACK_SHARDS = 16

# shared by sequence_packing and packing_efficiency_report so the two
# oracles cannot drift
_SQL_PACKED_CTES = f"""scored AS (
      SELECT doc_id,
             {tx.sql_token_count_ws('text')} AS n_tokens,
             CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM scored
    ),
    binned AS (
      SELECT doc_id, shard, n_tokens, cum_tokens,
             CAST(floor((cum_tokens - n_tokens) / {_PACK_BIN}.0) AS INT)
               AS bin
      FROM packed
    )"""


@query(
    "sequence_packing",
    oracle=f"""
    WITH {_SQL_PACKED_CTES}
    SELECT doc_id, shard, n_tokens, cum_tokens, bin FROM binned
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents to
    ~2048-token training bins. Docs are sharded by id hash so the
    running token sum is a window PARTITIONED BY SHARD — every shard
    packs independently in parallel (the same
    no-global-single-partition-window principle as
    training_data_selection), and bin ids are local to a shard. A
    doc's bin is determined by the tokens BEFORE it, i.e. greedy
    append in shard order; boundary-straddling docs spill into the
    next bin (packing with document truncation/splitting is a
    tokenizer-side concern — the distribution step is what belongs
    in the engine)."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        tx.token_count_ws(F.col("text")).alias("n_tokens"),
        (F.col("doc_id") % _PACK_SHARDS).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .withColumn(
            "bin",
            F.floor(
                (F.col("cum_tokens") - F.col("n_tokens")) / float(_PACK_BIN)
            ).cast("int"),
        )
    )


# BFD oracle: per-shard sequential best-fit-decreasing carried through
# a LINEAR recursive CTE whose state is the shard's bin-load LIST (the
# daily_value_holt linear-recursion pattern, integer arithmetic only)
# — each iteration places each shard's next-longest doc into the
# FULLEST bin it fits (ties -> lowest bin id), else opens a new bin.
_SQL_BFD_CTES = f"""scored_b AS (
      SELECT doc_id,
             {tx.sql_token_count_ws('text')} AS n_tokens,
             CAST(doc_id % {_PACK_SHARDS} AS INT) AS shard
      FROM documents
    ),
    ranked_b AS (
      SELECT shard, doc_id, n_tokens,
             row_number() OVER (PARTITION BY shard
                                ORDER BY n_tokens DESC, doc_id) AS rnk
      FROM scored_b
    ),
    pack_b AS (
      SELECT shard, 0 AS step, CAST([] AS BIGINT[]) AS loads,
             CAST(NULL AS BIGINT) AS doc_id,
             CAST(NULL AS BIGINT) AS n_tokens,
             CAST(NULL AS INT) AS bin
      FROM (SELECT DISTINCT shard FROM ranked_b)
      UNION ALL
      SELECT shard, step,
             CASE WHEN pick IS NULL THEN list_append(loads, n_tokens)
                  ELSE list_transform(range(1, len(loads) + 1),
                         j -> CASE WHEN j = pick THEN loads[j] + n_tokens
                              ELSE loads[j] END) END,
             doc_id, n_tokens,
             CAST(CASE WHEN pick IS NULL THEN len(loads)
                       ELSE pick - 1 END AS INT)
      FROM (
        SELECT p.shard, p.step + 1 AS step, p.loads, r.doc_id,
               r.n_tokens,
               CASE WHEN len(cands) = 0 THEN NULL
                    ELSE -(list_max(list_transform(cands,
                            i -> [p.loads[i], -i]))[2]) END AS pick
        FROM pack_b p
        JOIN ranked_b r ON r.shard = p.shard AND r.rnk = p.step + 1,
             LATERAL (SELECT list_filter(range(1, len(p.loads) + 1),
                        i -> p.loads[i] + r.n_tokens <= {_PACK_BIN})
                      AS cands) c
      )
    ),
    bfd_binned AS (
      SELECT doc_id, shard, n_tokens, bin FROM pack_b
      WHERE doc_id IS NOT NULL
    )"""


@query(
    "sequence_packing_bfd",
    oracle=f"""
    WITH RECURSIVE {_SQL_BFD_CTES}
    SELECT doc_id, shard, n_tokens, bin FROM bfd_binned
    """,
)
def sequence_packing_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing sequence packing (r13 verdict #4) — the
    second packer real pipelines weigh against the greedy running-sum
    binner: per shard, docs are sorted by length DESC and each is
    placed into the FULLEST existing bin it still fits (ties ->
    lowest bin id), opening a new bin when none fits; a doc longer
    than the bin opens its own overflow bin (mirroring
    sequence_packing's boundary-straddle semantics). Lower padding
    waste than greedy append at the cost of losing arrival order
    inside a shard.

    BFD is inherently sequential, so the parallel unit is the SHARD:
    one Arrow applyInPandas kernel per shard runs the integer
    placement loop (O(docs x open bins) per shard — bounded by the
    shard's token mass / bin size), and shard count is the scale
    knob exactly as in sequence_packing. No corpus-global sort or
    window anywhere (pinned by test_plan_quality); the one exchange
    is the shard hash partition. The DuckDB oracle replays the SAME
    integer algorithm through a linear recursive CTE with the bin
    loads as list state — deterministic tie-breaks make the two
    engines bit-identical."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        tx.token_count_ws(F.col("text")).alias("n_tokens"),
        (F.col("doc_id") % _PACK_SHARDS).cast("int").alias("shard"),
    )
    cap = _PACK_BIN

    def bfd(pdf):
        import numpy as np

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        loads: list[int] = []
        bins: list[int] = []
        for n in pdf["n_tokens"].tolist():
            best, best_load = -1, -1
            for i, l in enumerate(loads):
                if l + n <= cap and l > best_load:
                    best, best_load = i, l
            if best < 0:
                loads.append(int(n))
                bins.append(len(loads) - 1)
            else:
                loads[best] += int(n)
                bins.append(best)
        return pdf.assign(bin=np.array(bins, dtype="int32"))

    return scored.groupBy("shard").applyInPandas(
        bfd, schema="doc_id long, n_tokens int, shard int, bin int"
    ).select("doc_id", "shard", "n_tokens", "bin")


@query(
    "packing_efficiency_report",
    oracle=f"""
    WITH RECURSIVE {_SQL_PACKED_CTES},
    {_SQL_BFD_CTES},
    packs AS (
      SELECT 'greedy' AS packer, shard, bin, n_tokens FROM binned
      UNION ALL
      SELECT 'bfd' AS packer, shard, bin, n_tokens FROM bfd_binned
    ),
    bins AS (
      SELECT packer, shard, bin,
             CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM packs GROUP BY packer, shard, bin
    )
    SELECT packer, shard,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
           CAST(count(*) * {_PACK_BIN} AS BIGINT) AS capacity_tokens,
           CAST(sum(greatest(0, {_PACK_BIN} - bin_tokens)) AS BIGINT)
             AS padding_tokens,
           CAST(sum(greatest(0, bin_tokens - {_PACK_BIN})) AS BIGINT)
             AS overflow_tokens,
           round((count(*) * {_PACK_BIN}
                  - sum(greatest(0, {_PACK_BIN} - bin_tokens)))
                 * 1.0 / (count(*) * {_PACK_BIN}), 6) AS fill_rate
    FROM bins GROUP BY packer, shard
    """,
)
def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The readout that justifies a packer AND bin-size choice
    (extended to compare both packers under one oracle, r13 verdict
    #4): per (packer, shard), how full the {_PACK_BIN}-token bins
    actually are — padding waste (tokens of capacity left unfilled in
    underfull bins) vs overflow (tokens past capacity from
    boundary-straddling docs, which a tokenizer-side splitter would
    carry into the next sequence), and the resulting fill rate
    (filled capacity / total capacity). Reading the greedy row
    against the bfd row per shard is the padding-vs-arrival-order
    trade a data team makes before a training run.

    Scale: sequence_packing's shard-partitioned running sum and
    sequence_packing_bfd's per-shard Arrow kernel, unioned long-form,
    then two map-side-combinable aggregates ((packer, shard, bin)
    then (packer, shard)) — output is 2 x {_PACK_SHARDS} rows. No
    new windows, no joins, no collects."""
    both = (
        sequence_packing(spark, sf_dir)
        .select(
            F.lit("greedy").alias("packer"), "shard", "bin", "n_tokens"
        )
        .unionByName(
            sequence_packing_bfd(spark, sf_dir).select(
                F.lit("bfd").alias("packer"), "shard", "bin", "n_tokens"
            )
        )
    )
    bins = both.groupBy("packer", "shard", "bin").agg(
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.count("*").cast("long").alias("n_docs"),
    )
    cap = F.lit(_PACK_BIN).cast("long")
    filled = F.count("*") * _PACK_BIN - F.sum(
        F.greatest(F.lit(0).cast("long"), cap - F.col("bin_tokens"))
    )
    return bins.groupBy("packer", "shard").agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("bin_tokens").cast("long").alias("total_tokens"),
        (F.count("*") * _PACK_BIN).cast("long").alias("capacity_tokens"),
        F.sum(F.greatest(F.lit(0).cast("long"), cap - F.col("bin_tokens")))
        .cast("long")
        .alias("padding_tokens"),
        F.sum(F.greatest(F.lit(0).cast("long"), F.col("bin_tokens") - cap))
        .cast("long")
        .alias("overflow_tokens"),
        F.round(filled * 1.0 / (F.count("*") * _PACK_BIN), 6).alias(
            "fill_rate"
        ),
    )


@query(
    "training_data_selection",
    oracle=f"""
    WITH corpus AS ({_SQL_DUP_CORPUS}),
    scored AS (
      SELECT doc_id,
             {tx.sql_token_count_ws('text')} AS n_tokens,
             md5(text) AS content_hash
      FROM corpus
    ),
    deduped AS (
      SELECT * FROM scored
      QUALIFY doc_id = min(doc_id) OVER (PARTITION BY content_hash)
    ),
    budgeted AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM deduped
    )
    SELECT doc_id, n_tokens, cum_tokens
    FROM budgeted WHERE cum_tokens <= 20000
    """,
)
def training_data_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — the selection pass of a training-data
    pipeline: exact-dedup the corpus (hash groupBy keepers), rank by a
    score (token count here; any quality signal plugs in), and take
    documents until a global token budget is hit.

    Scale design (round 2 — replaces the round-1 global running-sum
    window, which funneled the whole deduped corpus through ONE
    partition): the budget cut is two-phase and fully declarative.

    Phase 1 aggregates per distinct score value — a map-side-combinable
    shuffle that collapses the corpus to one row per distinct n_tokens.
    The exact running sum ordered by score runs over THAT tiny table
    only (cardinality bounded by max document length, not corpus
    size), and score groups whose preceding cumulative already exceeds
    the budget are pruned before any per-row work.

    Phase 2 broadcast-joins the surviving group offsets back and
    computes each row's exact cumulative as
        cum_before(group) + running-sum WITHIN its score group,
    a window PARTITIONED by n_tokens — parallel across groups, never
    single-partition over the corpus. Output is bit-identical to the
    single-window formulation (same (n_tokens DESC, doc_id) order),
    so the DuckDB oracle is unchanged."""
    budget = 20_000
    corpus = _dup_corpus(load(spark, sf_dir, "documents"))
    scored = corpus.select(
        "doc_id",
        tx.token_count_ws(F.col("text")).alias("n_tokens"),
        F.md5("text").alias("content_hash"),
    )
    wk = Window.partitionBy("content_hash")
    deduped = (
        scored.withColumn("keeper", F.min("doc_id").over(wk))
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    # Phase 1: per-score totals; the only global window is over the
    # distinct-score table (|distinct n_tokens| rows, not |corpus|)
    wg = Window.orderBy(F.desc("n_tokens")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    grp = (
        deduped.groupBy("n_tokens")
        .agg(F.sum("n_tokens").alias("grp_tokens"))
        .withColumn(
            "cum_before", F.coalesce(F.sum("grp_tokens").over(wg), F.lit(0))
        )
        # a group whose preceding cumulative already blew the budget
        # can never contribute a row — prune before the per-row phase
        .filter(F.col("cum_before") <= budget)
        .select("n_tokens", "cum_before")
    )
    # Phase 2: exact per-row cumulative = group offset + within-group
    # running sum; window partitioned by score → parallel
    w_in = Window.partitionBy("n_tokens").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        deduped.join(F.broadcast(grp), "n_tokens")
        .withColumn(
            "cum_tokens",
            (F.col("cum_before") + F.sum("n_tokens").over(w_in)).cast("long"),
        )
        .filter(F.col("cum_tokens") <= budget)
        .select("doc_id", "n_tokens", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "media_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, text, length(text) AS n FROM documents
    ),
    f AS (
      SELECT media_id, n,
             CASE WHEN n = 0 THEN 0
                  ELSE list_sum(list_transform(range(1, (n + 7) // 8 + 1),
                         i -> ascii(substr(text, CAST(i AS INT), 1)))) % 997
             END AS m0
      FROM m
    )
    SELECT media_id, 'image' AS kind, CAST(n AS BIGINT) AS n_bytes,
           round((CAST(CAST(m0 AS DOUBLE) / 997.0 AS FLOAT))::DOUBLE, 6) AS f0
    FROM f
    """,
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: binary media column -> Arrow
    batches -> deterministic fake decode kernel (real codecs absent
    in this container) — now fully oracle-checked, closing the last
    rows-only registry entry: feature 0 is float32((sum of the first
    ceil(n/8) bytes mod 997) / 997), and since the synthetic content
    is the UTF-8 bytes of ASCII `text`, DuckDB reproduces the byte
    sum via ascii(substr(...)), the float32 cast bit-exactly
    (IEEE round-to-nearest on both engines), and the 6-dp round on
    the promoted double. The mapInPandas Arrow plumbing is therefore
    value-checked end-to-end — real-decode deployments swap
    decode_image in and keep every line downstream."""
    media = multimodal.synth_media_from_documents(load(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media, fake=True)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


# ---------------------------------------------------------------------------
# Round 4: line-level boilerplate dedup + nearest-centroid assignment
# ---------------------------------------------------------------------------

# The testdata documents are single-line word streams, so the line
# operator runs over a LINED corpus built identically in Spark and the
# oracle: a per-source header line + body lines of 8 words + a global
# footer line. Headers repeat across every doc of a source (25 docs at
# sf0.01) and the footer across all docs, so both cross the removal
# threshold; body lines are (mostly) unique and survive.
_LINE_WORDS = 8
_LINE_DF_MAX = 2  # a line kept only if it appears in <= 2 distinct docs

_SQL_LINED_CORPUS = f"""
  SELECT doc_id,
         ['__header_' || source || '__'] ||
         list_transform(range(0, (len(ws) + {_LINE_WORDS - 1}) // {_LINE_WORDS}),
           i -> array_to_string(
                  list_slice(ws, i*{_LINE_WORDS}+1, i*{_LINE_WORDS}+{_LINE_WORDS}),
                  ' ')) ||
         ['__footer_subscribe_now__'] AS lines
  FROM (
    SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS ws
    FROM documents WHERE length(trim(text)) > 0
  )
"""


def _lined_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, lines array<string>): header + 8-word body lines + footer."""
    t = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", "source", tx.words(F.col("text")).alias("ws")
    )
    return t.select(
        "doc_id",
        F.concat(
            F.array(F.concat(F.lit("__header_"), F.col("source"), F.lit("__"))),
            F.expr(
                f"transform(sequence(0, (size(ws)-1) div {_LINE_WORDS}), "
                f"i -> array_join(slice(ws, i*{_LINE_WORDS}+1, {_LINE_WORDS}), ' '))"
            ),
            F.array(F.lit("__footer_subscribe_now__")),
        ).alias("lines"),
    )


@query(
    "line_dedup_docs",
    oracle=f"""
    WITH lined AS ({_SQL_LINED_CORPUS}),
    ln AS (
      SELECT doc_id, unnest(lines) AS line,
             unnest(range(1, len(lines)+1)) AS pos
      FROM lined
    ),
    freq AS (
      SELECT line, count(DISTINCT doc_id) AS df FROM ln GROUP BY line
    ),
    kept AS (
      SELECT ln.* FROM ln JOIN freq USING (line) WHERE df <= {_LINE_DF_MAX}
    ),
    totals AS (
      SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines FROM lined
    ),
    kept_agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS kept_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_lines,
           coalesce(k.n_kept, 0) AS n_kept,
           coalesce(k.kept_text, '') AS kept_text
    FROM totals t LEFT JOIN kept_agg k USING (doc_id)
    """,
)
def line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style line-level boilerplate removal (public
    method: Raffel et al. 2020 §2.2; Penedo et al. 2023 §3): drop
    every line that occurs in more than _LINE_DF_MAX=2 distinct
    documents corpus-wide, reassemble the survivors in document
    order. The step that strips nav bars / cookie banners / footers
    before any document-level dedup.

    Scale (100 TB stance): one explode -> distinct -> groupBy to get
    per-line document frequency (shuffle keyed on the line; a
    pre-projection to (doc_id, line) distinct makes the countDistinct
    a plain count), then a LEFT ANTI join of the exploded lines
    against the boilerplate set. Both shuffles are on the line value
    — for very long lines, substitute xxhash64(line) as the join key
    (identical topology). Reassembly is a per-doc sort of an
    already-small collected list, never a global sort."""
    lined = _lined_corpus(widen_scan(load(spark, sf_dir, "documents")))
    ln = lined.select(
        "doc_id", F.posexplode("lines").alias("pos", "line")
    )
    freq = (
        ln.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count("*").alias("df"))
    )
    boiler = freq.filter(F.col("df") > _LINE_DF_MAX).select("line")
    kept = ln.join(boiler, "line", "left_anti")
    totals = lined.select(
        "doc_id", F.size("lines").cast("bigint").alias("n_lines")
    )
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("kept_text"),
    )
    return totals.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0).cast("bigint")).alias("n_kept"),
        F.coalesce("kept_text", F.lit("")).alias("kept_text"),
    )


@query(
    "embedding_centroid_assign",
    oracle="""
    WITH rel AS (
      SELECT vec_id, label,
             unnest(embedding)::DOUBLE AS x,
             unnest(range(1, len(embedding)+1)) AS pos
      FROM embeddings
    ),
    cent AS (SELECT label AS clabel, pos, avg(x) AS c FROM rel GROUP BY 1, 2),
    vnorm AS (SELECT vec_id, sqrt(sum(x*x)) AS vn FROM rel GROUP BY 1),
    cnorm AS (SELECT clabel, sqrt(sum(c*c)) AS cn FROM cent GROUP BY 1),
    dots AS (
      SELECT r.vec_id, c.clabel, sum(r.x * c.c) AS dp
      FROM rel r JOIN cent c USING (pos) GROUP BY 1, 2
    ),
    sims AS (
      SELECT d.vec_id, d.clabel, round(dp / (vn * cn), 6) AS sim
      FROM dots d JOIN vnorm USING (vec_id) JOIN cnorm USING (clabel)
    ),
    pred AS (
      SELECT vec_id, clabel AS pred_label
      FROM sims
      QUALIFY row_number()
          OVER (PARTITION BY vec_id ORDER BY sim DESC, clabel) = 1
    )
    SELECT e.label, p.pred_label, count(*) AS n_vecs
    FROM embeddings e JOIN pred p USING (vec_id)
    GROUP BY 1, 2
    """,
)
def embedding_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (Rocchio classification / the
    k-means assignment step): per-label mean vectors, every embedding
    assigned to its max-cosine centroid, confusion counts out. The
    building block behind cluster-balanced sampling and weak-label
    quality audits of an embedded corpus.

    Scale: centroids are a (label x dim) aggregate — tiny — and the
    assignment is a BROADCAST join of that aggregate onto the
    relational (vec, pos, x) stream followed by a (vec, label) keyed
    sum: O(n_vecs x dims x n_labels) multiply-adds distributed by
    vector, no crossJoin of vectors against vectors. Similarity is
    rounded to 6 dp before the argmax so the float summation-order
    ULP gap between engines cannot flip a ranking; remaining ties
    break on label id."""
    emb = load(spark, sf_dir, "embeddings")
    rel = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "xf"),
    ).select("vec_id", "label", "pos", F.col("xf").cast("double").alias("x"))
    cent = rel.groupBy(F.col("label").alias("clabel"), "pos").agg(
        F.avg("x").alias("c")
    ).localCheckpoint(eager=False)
    # ^ r14: cent (label x dim — tiny) feeds its own norm AND the
    # broadcast assignment join; unpinned, each consumer re-exploded
    # the full embedding table to rebuild it (4 explode passes per
    # action -> 2; the exploded stream itself is deliberately NOT
    # materialized — heavier than re-scanning parquet). Guide §3.3.
    vnorm = rel.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("vn"))
    cnorm = cent.groupBy("clabel").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cn"))
    dots = (
        rel.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "clabel")
        .agg(F.sum(F.col("x") * F.col("c")).alias("dp"))
    )
    sims = (
        dots.join(vnorm, "vec_id")
        .join(F.broadcast(cnorm), "clabel")
        .select(
            "vec_id",
            "clabel",
            F.round(F.col("dp") / (F.col("vn") * F.col("cn")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("clabel"))
    pred = (
        sims.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", F.col("clabel").alias("pred_label"))
    )
    return (
        emb.select("vec_id", "label")
        .join(pred, "vec_id")
        .groupBy("label", "pred_label")
        .agg(F.count("*").alias("n_vecs"))
    )


# ---------------------------------------------------------------------------
# Round 4: portable MinHash — LSH candidate generation under oracle check
# ---------------------------------------------------------------------------

_MH_P = dedup_text.MH_PRIME
_MH_K = len(dedup_text.MH_AB)
_MH_BANDS = 4
_MH_R = _MH_K // _MH_BANDS

_SQL_SHINGLE_HASH = """
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, length(shingle) + 1),
                     i -> CAST(ascii(substr(shingle, i, 1)) AS BIGINT))),
    (acc, c) -> (acc * 131 + c) % {p})
""".format(p=_MH_P)

_SQL_MH_MINS = ",\n             ".join(
    f"min(({a} * h + {b}) % {_MH_P}) AS m{j}"
    for j, (a, b) in enumerate(dedup_text.MH_AB)
)

_SQL_MH_BANDS = "\n      UNION ALL\n".join(
    "      SELECT doc_id, {band} AS band, {key} AS bk FROM sig".format(
        band=b,
        key=" || '-' || ".join(
            f"CAST(m{b * _MH_R + j} AS VARCHAR)" for j in range(_MH_R)
        ),
    )
    for b in range(_MH_BANDS)
)

_SQL_MH_MATCHES = " + ".join(
    f"CAST(sa.m{j} = sb.m{j} AS INT)" for j in range(_MH_K)
)


# shared shingle->hash front end of the portable MinHash/SimHash
# oracles (twin of dedup_text._doc_shingles + _portable_hash)
_SQL_HASHED_SHINGLES = f"""normed AS (
      SELECT doc_id, {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))} AS ws
      FROM corpus
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM normed WHERE len(ws) >= 3
    ),
    hashed AS (
      SELECT doc_id, {_SQL_SHINGLE_HASH} AS h FROM shingled
    )"""


def _sql_bucket_cap(keys: str, cap: int | None) -> str:
    """Oracle twin of dedup_text._cap_buckets: rebind `banded` to the
    rows whose band bucket holds <= cap members (no-op CTE when
    uncapped, keeping the two oracle shapes identical)."""
    if cap is None:
        return "banded AS (SELECT * FROM banded0)"
    return f"""bok AS (
      SELECT {keys} FROM banded0 GROUP BY {keys} HAVING count(*) <= {cap}
    ),
    banded AS (SELECT b.* FROM banded0 b JOIN bok USING ({keys}))"""


def _minhash_pairs_oracle(corpus_sql: str, cap: int | None = None) -> str:
    """Parametrized DuckDB twin of dedup_text.minhash_portable_pairs —
    shared by the registered queries (near-dup corpus, capped twin)
    and dedup_recall_report's composition, so the oracle arithmetic
    can never drift between them."""
    return f"""
    WITH corpus AS ({corpus_sql}),
    {_SQL_HASHED_SHINGLES},
    sig AS (
      SELECT doc_id,
             {_SQL_MH_MINS}
      FROM hashed GROUP BY doc_id
    ),
    banded0 AS (
{_SQL_MH_BANDS}
    ),
    {_sql_bucket_cap("band, bk", cap)},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bk = b.bk
                    AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT doc_a, doc_b,
             ({_SQL_MH_MATCHES}) / {float(_MH_K)} AS est
      FROM cand
      JOIN sig sa ON sa.doc_id = doc_a
      JOIN sig sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, round(est, 6) AS est_jaccard
    FROM est WHERE est >= 0.5
    """


_MH_CAP = 8  # hot-bucket bound, active in the PRIMARY (bites at sf0.01)


@query(
    "minhash_near_dups",
    oracle=_minhash_pairs_oracle(_SQL_NEAR_DUP_CORPUS, cap=_MH_CAP),
)
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the FULL pipeline under oracle check —
    candidate generation included — and the HOT-BUCKET GUARD ACTIVE
    (max_bucket_size=_MH_CAP=8, replicated in the oracle): band
    buckets holding more docs are dropped before the self-join,
    bounding any bucket's candidate contribution to O(cap²). The
    r7 probe measured the uncapped form's shuffle growing 81x at 10x
    rows (k² fan-out on hot band buckets — exact-duplicate clusters
    share every band key); the guard makes candidate volume linear,
    so this capped form owns the primary name and
    `minhash_near_dups_uncapped` remains the sf-bounded baseline.

    The base hash is a polynomial codepoint fold and the permutations
    are fixed (a*x+b) mod p literals shared verbatim with the DuckDB
    twin, so banding, collision sets, and signature-match estimates
    agree value-for-value cross-engine."""
    corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
    return dedup_text.minhash_portable_pairs(
        corpus, threshold=0.5, n=3, num_bands=_MH_BANDS,
        max_bucket_size=_MH_CAP,
        shingles=_near_dup_shingles(spark, sf_dir),
    )


@query(
    "minhash_near_dups_uncapped",
    oracle=_minhash_pairs_oracle(_SQL_NEAR_DUP_CORPUS),
)
def minhash_near_dups_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED MinHash+LSH — the sf-bounded exact-recall baseline
    behind the registered `minhash_near_dups` (which drops band
    buckets over _MH_CAP=8 docs). Without the guard a hot band bucket
    of k colliding docs emits O(k²) candidates (measured: 81x shuffle
    growth at 10x rows on a corpus with exact-duplicate clusters), so
    this form is for oracle anchoring and recall audits only — at
    100 TB use the capped primary (collapse byte-equal masses with
    exact_dedup first; they share every band key).

    Identical scale shape otherwise (signature shuffle, band explode,
    (band, key) equi-join; never all-pairs); the portable fold costs
    one extra pass over shingle characters — the price of end-to-end
    checkability (it pins recall behavior, not just survivors)."""
    corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
    return dedup_text.minhash_portable_pairs(
        corpus, threshold=0.5, n=3, num_bands=_MH_BANDS,
        shingles=_near_dup_shingles(spark, sf_dir),
    )


@query(
    "minhash_near_dups_capped",
    oracle=_minhash_pairs_oracle(_SQL_HOT_CLUSTER_CORPUS, cap=_MH_CAP),
)
def minhash_near_dups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket guard's STRESS DEMO: same capped pipeline as
    the primary `minhash_near_dups`, but run on the hot-CLUSTER
    corpus (21 planted byte-equal docs) so the guard demonstrably
    FIRES: the identical mass shares every band key, blows past
    `_MH_CAP`, and emits no pairs, while ordinary planted near-dups
    survive — oracle-visible on both engines. A bucket that large is
    either a mass of exact duplicates (collapse those with
    exact_dedup FIRST) or a degenerate signature; capping loses only
    recall among its members, never precision."""
    corpus = _hot_cluster_corpus(widen_scan(load(spark, sf_dir, "documents")))
    return dedup_text.minhash_portable_pairs(
        corpus, threshold=0.5, n=3, num_bands=_MH_BANDS,
        max_bucket_size=_MH_CAP,
    )


# ---------------------------------------------------------------------------
# Round 4: portable SimHash — banded Hamming near-dups under oracle check
# ---------------------------------------------------------------------------

_SH_BITS = dedup_text.SH_BITS
_SH_BB = dedup_text.SH_BAND_BITS
_SH_NB = _SH_BITS // _SH_BB
_SH_MASK = (1 << _SH_BB) - 1

_SQL_SH_VOTES = ",\n             ".join(
    f"sum(CASE WHEN (({a} * h + {b}) % {_MH_P}) % 2 = 1 "
    f"THEN 1 ELSE -1 END) AS b{i}"
    for i, (a, b) in enumerate(dedup_text.SH_AB)
)

_SQL_SH_FP = " + ".join(
    f"CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE 0 END"
    for i in range(_SH_BITS)
)

_SQL_SH_BANDS = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS band, (fp >> {b * _SH_BB}) & {_SH_MASK} AS bv"
    " FROM sig"
    for b in range(_SH_NB)
)


def _simhash_pairs_oracle(corpus_sql: str, cap: int | None = None) -> str:
    """Parametrized DuckDB twin of
    dedup_text.simhash_portable_near_dup_pairs — shared by the
    registered queries (light-edit corpus, capped twin) and
    dedup_recall_report's composition (near-dup corpus)."""
    return f"""
    WITH corpus AS ({corpus_sql}),
    {_SQL_HASHED_SHINGLES},
    votes AS (
      SELECT doc_id,
             {_SQL_SH_VOTES}
      FROM hashed GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id, {_SQL_SH_FP} AS fp FROM votes
    ),
    banded0 AS (
{_SQL_SH_BANDS}
    ),
    {_sql_bucket_cap("band, bv", cap)},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.bv = b.bv
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa.fp, sb.fp)) AS INT) AS hamming
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    WHERE bit_count(xor(sa.fp, sb.fp)) <= 3
    """


@query(
    "simhash_near_dups",
    oracle=_simhash_pairs_oracle(_SQL_LIGHT_EDIT_CORPUS),
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups with the FULL pipeline under oracle check
    (companion to minhash_near_dups): 56 random-parity projections of
    the portable shingle hash, majority vote per bit, 4 x 14-bit
    pigeonhole bands, bit_count(xor) verification at hamming <= 3.
    The oracle pins fingerprints, banding, and the recall guarantee
    value-for-value cross-engine.

    Corpus/width choice: a small absolute hamming cutoff over a WIDE
    fingerprint is the Manku et al. 2007 configuration — it targets
    near-IDENTICAL documents, so the planted positives here are
    two-word-appended copies (two trailing shingles changed); 80%
    truncations (Jaccard ≈ 0.65) are MinHash's regime and stay the
    minhash_near_dups corpus. Width is also the scale lever: banded
    candidate volume is ~n²/2^band_bits per band, and the original
    4×8-bit layout measured 81M raw collisions at a 100k-doc probe
    (wide bands cut that ~64×) — see dedup_text.SH_AB."""
    corpus = _light_edit_corpus(widen_scan(load(spark, sf_dir, "documents")))
    return dedup_text.simhash_portable_near_dup_pairs(
        corpus, max_hamming=3, n=3
    )


_SH_CAP = 8  # capped-twin bucket bound

# light-edit corpus ∪ the same 21-doc byte-equal hot cluster
_SQL_HOT_LIGHT_CORPUS = _sql_with_hot_cluster(_SQL_LIGHT_EDIT_CORPUS)


def _hot_light_corpus(docs: DataFrame) -> DataFrame:
    return _with_hot_cluster(_light_edit_corpus(docs), docs)


@query(
    "simhash_near_dups_capped",
    oracle=_simhash_pairs_oracle(_SQL_HOT_LIGHT_CORPUS, cap=_SH_CAP),
)
def simhash_near_dups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simhash_near_dups with the HOT-BUCKET GUARD active and
    oracle-visible: band buckets holding more than `_SH_CAP` docs are
    dropped before the self-join (see minhash_near_dups_capped for
    the rationale and the planted 21-doc hot cluster) — the at-scale
    default alongside exact-dedup pre-collapse."""
    corpus = _hot_light_corpus(widen_scan(load(spark, sf_dir, "documents")))
    return dedup_text.simhash_portable_near_dup_pairs(
        corpus, max_hamming=3, n=3, max_bucket_size=_SH_CAP
    )


@query(
    "vocab_induction",
    oracle=f"""
    WITH normed AS (
      SELECT doc_id,
             CASE WHEN length({_SQL_NORM.format(t='text')}) = 0
                  THEN CAST([] AS VARCHAR[])
                  ELSE {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))}
             END AS ws
      FROM documents
    ),
    tok AS (SELECT unnest(ws) AS word FROM normed),
    counts AS (SELECT word, count(*) AS n_occurrences FROM tok GROUP BY 1),
    total AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS t FROM counts),
    ranked AS (
      SELECT word, n_occurrences,
             CAST(row_number() OVER (ORDER BY n_occurrences DESC, word)
                  AS BIGINT) AS rank,
             CAST(sum(n_occurrences) OVER (ORDER BY n_occurrences DESC, word
                                           ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum
      FROM counts
    )
    SELECT word, rank, n_occurrences,
           round(cum * 1.0 / t, 6) AS cum_coverage
    FROM ranked, total
    WHERE rank <= 100
    """,
)
def vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction: the top-100 corpus words by frequency
    with cumulative token coverage — the initialization step of any
    BPE/WordPiece tokenizer build and the coverage curve that decides
    vocab size. One explode + one word-keyed count; the ranking and
    running-coverage windows run over WORD-cardinality aggregate
    output (bounded), not the token stream, and share one global sort
    — same aggregate-input window shape as segment_revenue_share."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(tx.words(tx.normalized_text(F.col("text")))).alias("word")
    )
    counts = tok.groupBy("word").agg(F.count("*").alias("n_occurrences"))
    total = counts.agg(F.sum("n_occurrences").cast("bigint").alias("t"))
    wr = Window.orderBy(F.desc("n_occurrences"), F.asc("word"))
    wcum = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        counts.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .withColumn("cum", F.sum("n_occurrences").over(wcum).cast("bigint"))
        .filter(F.col("rank") <= 100)
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "rank",
            "n_occurrences",
            F.round(F.col("cum") * 1.0 / F.col("t"), 6).alias("cum_coverage"),
        )
    )


@query(
    "embedding_dedup_reps",
    oracle=f"""
    WITH RECURSIVE corpus0 AS ({_SQL_PERTURBED_EMB}),
    corpus AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM corpus0
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.995
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    walk(node, comp) AS (
      SELECT vec_id, vec_id FROM corpus
      UNION
      SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node
    ),
    comp AS (
      SELECT node AS vec_id, min(comp) AS component FROM walk GROUP BY node
    )
    SELECT component,
           CAST(min(vec_id) AS BIGINT) AS rep_vec_id,
           count(*) AS cluster_size
    FROM comp GROUP BY component
    """,
)
def embedding_dedup_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end EMBEDDING dedup (the semantic-dedup pipeline:
    SemDeDup-style): exact cosine pairs at 0.995 over the perturbed
    corpus -> connected components -> min-id representative per
    cluster. Each (original, +0.01 copy) pair must collapse into one
    2-vector cluster keeping the original; untouched vectors stay
    singletons.

    The pair stage here is the sf-bounded exact baseline so the WHOLE
    composition is oracle-checked (pairs, transitive clustering, and
    representative choice); at scale the drop-in pair source is
    `similarity.lsh_portable_near_dup_pairs` (bucketed equi-join)
    feeding the same components + argmin — identical plan shape from
    pairs on."""
    corpus = _perturbed_embeddings(load(spark, sf_dir, "embeddings"))
    pairs = similarity.cosine_near_dup_pairs(corpus, threshold=0.995)
    assign = graph.cluster_assignments(
        corpus.select("vec_id"), pairs, id_col="vec_id",
        pair_a="id_a", pair_b="id_b",
    )
    return assign.groupBy("component").agg(
        F.min("vec_id").cast("bigint").alias("rep_vec_id"),
        F.count("*").alias("cluster_size"),
    )


_LSHP_T = 6   # hyperplane tables
_LSHP_B = 8   # bits per table


@query(
    "embedding_lsh_near_dups",
    oracle=f"""
    WITH corpus0 AS ({_SQL_PERTURBED_EMB}),
    corpus AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM corpus0
    ),
    planes AS (
      SELECT t, b, d,
             ('0x' || substr(md5('pl:' || t || ':' || b || ':' || d), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS p
      FROM range({_LSHP_T}) r1(t), range({_LSHP_B}) r2(b), range({EMB_DIM}) r3(d)
    ),
    rel AS (
      SELECT vec_id,
             unnest(range(0, {EMB_DIM})) AS d,
             unnest(v) AS x
      FROM corpus
    ),
    proj AS (
      SELECT vec_id, t, b, round(sum(x * p), 6) AS s
      FROM rel JOIN planes USING (d)
      GROUP BY 1, 2, 3
    ),
    buckets AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a
      JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           round(list_dot_product(ca.v, cb.v) / (ca.nrm * cb.nrm), 6) AS sim
    FROM cand
    JOIN corpus ca ON ca.vec_id = id_a
    JOIN corpus cb ON cb.vec_id = id_b
    WHERE list_dot_product(ca.v, cb.v) / (ca.nrm * cb.nrm) >= 0.995
    """,
)
def embedding_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding near-dup PAIRS — the at-scale path for
    embedding_near_dups (the exact O(n²) oracle baseline, sf-bounded
    by the 250-vector cap) — with the CANDIDATE GENERATION under
    oracle check, completing the portable family (MinHash, SimHash,
    vector LSH): plane components are md5-derived uniforms both
    engines compute bit-identically, so buckets, collision sets, and
    survivors all hash-match. Recall is pinned by the planted
    (original, +0.01 copy) pairs — cosine ≈ 0.9968, per-table bucket
    match P ≈ 0.81, miss probability across 6 tables ≈ 4e-5."""
    corpus = _perturbed_embeddings(load(spark, sf_dir, "embeddings"))
    return similarity.lsh_portable_near_dup_pairs(
        corpus, dim=EMB_DIM, threshold=0.995,
        num_tables=_LSHP_T, bits=_LSHP_B,
    )


# ---------------------------------------------------------------------------
# End-to-end corpus build: the single manifest query a training team runs
# ---------------------------------------------------------------------------

# quality-scored, benchmark-held-out corpus base (doc_id % 25 = 0
# plays the eval split, as in benchmark_contamination). The quality
# expression is the doc_quality oracle's, verbatim.
_SQL_MANIFEST_Q = f"""
  SELECT doc_id, source, text,
         round(0.4 * least({tx.sql_token_count_ws('text')} / 100.0, 1.0)
             + 0.3 * (CASE WHEN {tx.sql_token_count_ws('text')} > 0
                            AND length(text) * 1.0 / {tx.sql_token_count_ws('text')}
                                BETWEEN 3 AND 12
                           THEN 1.0 ELSE 0.5 END)
             + 0.3 * (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
                                        ELSE length(regexp_replace(text,
                                             '[A-Za-z0-9\\s]', '', 'g'))
                                             * 1.0 / length(text) END) * 4,
                                  1.0)), 4) AS quality
  FROM documents
  WHERE length(trim(text)) > 0 AND doc_id % 25 <> 0
"""

# quality gate + exact dedup (min-id keeper per content hash),
# self-contained so the near-dup pair oracle can embed it verbatim
_SQL_MANIFEST_EX = f"""
  SELECT q.doc_id, q.source, q.text, q.quality
  FROM ({_SQL_MANIFEST_Q}) q
  WHERE q.quality >= 0.5
    AND NOT EXISTS (SELECT 1 FROM ({_SQL_MANIFEST_Q}) q2
                    WHERE q2.quality >= 0.5
                      AND md5(q2.text) = md5(q.text)
                      AND q2.doc_id < q.doc_id)
"""

_MANIFEST_SHARDS = 8
_MANIFEST_CAL_MIN = 0.1  # drop the worst decile per source


def _manifest_oracle(best_keeper: bool = False) -> str:
    grams = tx.sql_ngrams("ws", 5)
    hexpr = (
        "('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    )
    if best_keeper:
        # near-dup stage keeps the BEST-QUALITY member of each
        # verified pair (ties -> lower id, i.e. the min-id rule)
        nd_ctes = f"""exd AS MATERIALIZED ({_SQL_MANIFEST_EX}),
    losers AS MATERIALIZED (
      SELECT DISTINCT CASE WHEN qa.quality < qb.quality THEN p.doc_a
                           ELSE p.doc_b END AS doc_id
      FROM ({_minhash_pairs_oracle(_SQL_MANIFEST_EX, cap=_MH_CAP)}) p
      JOIN exd qa ON qa.doc_id = p.doc_a
      JOIN exd qb ON qb.doc_id = p.doc_b
    ),
    nd AS (
      SELECT e.* FROM exd e
      WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = e.doc_id)
    ),"""
    else:
        nd_ctes = f"""nd AS (
      SELECT e.* FROM ({_SQL_MANIFEST_EX}) e
      WHERE NOT EXISTS (
        SELECT 1 FROM ({_minhash_pairs_oracle(_SQL_MANIFEST_EX, cap=_MH_CAP)}) p
        WHERE p.doc_b = e.doc_id)
    ),"""
    return f"""
    WITH {nd_ctes}
    bgrams AS (
      SELECT DISTINCT unnest(list_distinct({grams})) AS gram
      FROM (SELECT {tx.SQL_WORDS.format(t='lower(text)')} AS ws
            FROM documents
            WHERE doc_id % 25 = 0 AND length(trim(text)) > 0)
    ),
    dgrams AS (
      SELECT doc_id, unnest(list_distinct({grams})) AS gram
      FROM (SELECT doc_id, {tx.SQL_WORDS.format(t='lower(text)')} AS ws
            FROM nd)
    ),
    contaminated AS (
      SELECT DISTINCT d.doc_id FROM dgrams d JOIN bgrams b USING (gram)
    ),
    dc AS (
      SELECT * FROM nd t
      WHERE NOT EXISTS (SELECT 1 FROM contaminated c
                        WHERE c.doc_id = t.doc_id)
    ),
    cal AS (
      SELECT *, round(percent_rank() OVER (PARTITION BY source
                                           ORDER BY quality, doc_id), 6)
                AS calibrated
      FROM dc
    ),
    keyed AS (
      SELECT doc_id, source, text, {hexpr} AS h
      FROM cal WHERE calibrated >= {_MANIFEST_CAL_MIN}
    )
    SELECT doc_id, source,
           {tx.sql_token_count_ws('text')} AS n_tokens,
           CAST(h % {_MANIFEST_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % {_MANIFEST_SHARDS}
                                   ORDER BY h, doc_id) AS BIGINT) AS step
    FROM keyed
    """


# The manifest's quality-gated, exactly-deduped base and its verified
# near-dup pair table are identical across the min-id and best-quality
# keeper variants (and keeper_quality_gain) — share ONE build per
# (app, sf_dir) through a session cache (r13; bench measured ~3-4 s of
# duplicated stage work per extra consumer without it). ONE group
# entry holds (ex, pairs): pairs closes over ex's checkpoint, so
# caching them separately would let a stale pairs entry outlive an
# evicted ex (checkpoint-block-not-found on first use).
_MANIFEST_BASE_CACHE = SessionDFCache("manifest_base")


def _manifest_dedup_base(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(ex, pairs): stages 1-3 of the manifest (holdout + quality gate
    + exact dedup) and the stage-4 verified near-dup pair table."""

    def build_both() -> tuple[DataFrame, DataFrame]:
        docs = load(spark, sf_dir, "documents")
        base = docs.filter(
            (F.length(F.trim(F.col("text"))) > 0)
            & (F.col("doc_id") % 25 != 0)
        ).select("doc_id", "source", "text")
        q = base.withColumn(
            "quality", tx.quality_score(F.col("text"))
        ).filter(F.col("quality") >= 0.5)
        wh = Window.partitionBy(F.md5("text"))
        ex = (
            q.withColumn("__keep", F.min("doc_id").over(wh))
            .filter(F.col("doc_id") == F.col("__keep"))
            .drop("__keep")
            .localCheckpoint(eager=False)
        )
        pairs = dedup_text.minhash_portable_pairs(
            ex.select("doc_id", "text"),
            threshold=0.5,
            n=3,
            num_bands=_MH_BANDS,
            max_bucket_size=_MH_CAP,
        )
        return ex, pairs

    return _MANIFEST_BASE_CACHE.get_or_build(spark, sf_dir, build_both)


@query("corpus_build_manifest", oracle=_manifest_oracle())
def corpus_build_manifest(
    spark: SparkSession, sf_dir: str, nd_keeper: str = "min_id"
) -> DataFrame:
    """THE END-TO-END CORPUS BUILD — one query chaining the stages a
    training-data team actually runs, every stage an operator this
    engine ships individually, and the WHOLE composition under one
    oracle: (1) non-empty + benchmark holdout (doc_id % 25 = 0 plays
    the eval split), (2) quality gate at 0.5, (3) exact dedup (min-id
    keeper per content hash), (4) MinHash-LSH near-dup dedup with the
    hot-bucket guard active (one-pass drop of any doc with a
    smaller-id verified pair — the incremental keeper rule;
    ``nd_keeper="best_quality"`` keeps each pair's higher-QUALITY
    member instead, registered as corpus_build_manifest_best_keeper),
    (5) 5-gram benchmark decontamination, (6) per-source percentile
    calibration dropping the worst decile, (7) the training manifest:
    deterministic epoch-0 reader-shard + step assignment and token
    counts — the file a data loader consumes.

    Scale: every stage keeps its standalone plan shape — keyed
    shuffles only (content hash, band key, gram, source, shard),
    broadcast benchmark grams, the capped band self-join, per-source
    and per-shard windows, never a global sort or crossJoin. The one
    new cost is lineage reuse, handled with a lazy checkpoint on the
    deduped base so the pair stage and the anti-join don't re-derive
    it."""
    docs = load(spark, sf_dir, "documents")
    ex, pairs = _manifest_dedup_base(spark, sf_dir)
    if nd_keeper == "best_quality":
        # keep the BEST-QUALITY member of each verified pair
        # (FineWeb/RefinedWeb practice; r12 verdict #5): the loser is
        # the lower-quality side, ties -> the higher id (so tie
        # behavior matches the min-id rule). Quality is the 4dp-
        # rounded score carried by `ex`, identical on both engines.
        qa = ex.select(
            F.col("doc_id").alias("doc_a"), F.col("quality").alias("q_a")
        )
        qb = ex.select(
            F.col("doc_id").alias("doc_b"), F.col("quality").alias("q_b")
        )
        losers = (
            pairs.join(qa, "doc_a")
            .join(qb, "doc_b")
            .select(
                F.when(F.col("q_a") < F.col("q_b"), F.col("doc_a"))
                .otherwise(F.col("doc_b"))
                .alias("doc_id")
            )
            .distinct()
        )
        nd = ex.join(losers, "doc_id", "left_anti")
    else:
        nd = ex.join(
            pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
    bench_grams = (
        docs.filter(
            (F.col("doc_id") % 25 == 0)
            & (F.length(F.trim(F.col("text"))) > 0)
        )
        .select(
            F.explode(
                F.array_distinct(
                    tx._ngrams(tx.words(F.lower(F.col("text"))), 5)
                )
            ).alias("gram")
        )
        .distinct()
    )
    doc_grams = nd.select(
        "doc_id",
        F.explode(
            F.array_distinct(tx._ngrams(tx.words(F.lower(F.col("text"))), 5))
        ).alias("gram"),
    )
    contaminated = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    dc = nd.join(contaminated, "doc_id", "left_anti")
    # stages 6-7 through the SAME helper the incremental manifest's
    # finalize uses (streaming/manifest.py) — the equivalence pin
    # between the two builds cannot drift on the corpus-global tail
    from ..streaming.manifest import manifest_calibrate_and_shard

    return manifest_calibrate_and_shard(
        dc.select(
            "doc_id",
            "source",
            "quality",
            tx.token_count_ws(F.col("text")).alias("n_tokens"),
        ),
        _MANIFEST_CAL_MIN,
        _MANIFEST_SHARDS,
    )


@query("corpus_build_manifest_best_keeper", oracle=_manifest_oracle(best_keeper=True))
def corpus_build_manifest_best_keeper(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """corpus_build_manifest with the near-dup stage keeping the
    BEST-QUALITY member of each verified pair instead of the lowest
    id (r12 verdict #5; FineWeb/RefinedWeb keep-best practice, ties
    -> lower id so tie behavior matches the min-id rule). Exact dedup
    is unaffected: identical text implies identical quality, so its
    min-id keeper IS the best-quality keeper. Same plan shape — one
    extra broadcast-sized pair/quality join on the pair table, which
    is output-sized."""
    return corpus_build_manifest(spark, sf_dir, nd_keeper="best_quality")


# the finalized incremental build, per (app, sf_dir): the ingest runs
# ONCE per session (cold ~24 s at sf0.1: three full per-batch screen
# pipelines + nine txlog commits); later consumers read the
# checkpointed 4-column manifest. bench per-pass history shows the
# cold/warm split, the corpus_build_manifest posture.
_INCR_MANIFEST_CACHE = SessionDFCache("incr_manifest")


@query("incremental_corpus_build_manifest", oracle=_manifest_oracle())
def incremental_corpus_build_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE BATCH-EQUIVALENCE PIN AS A DRIVER-GATE QUERY (r13 verdict
    #1): the corpus is delivered as three ascending doc_id-range
    micro-batches to the INCREMENTAL manifest build
    (streaming/manifest.py — quality gate -> persisted exact-dedup
    hash index -> persisted MinHash band index -> static benchmark
    gram screen, every batch committed to txlog tables with an
    idempotence token), then finalized with the shared
    calibration+shard tail. The oracle is the BATCH manifest's oracle
    VERBATIM: under monotone delivery the incremental build must
    reproduce corpus_build_manifest row-for-row, and the driver's
    hash gate checks exactly that. Mid-stream replay and
    crash-between-commits recovery are pinned by
    tests/test_incremental_manifest.py.

    Scale: each arriving batch does O(|batch|) work against
    arbitrarily large indexes — the hash anti-join is batch-keyed and
    the band index is first semi-joined down to the batch's touched
    buckets (batch-sized broadcast) before the capped candidate join;
    the corpus-global calibration runs once at finalize. The
    registered form trades ~3x the batch manifest's one-shot cost for
    the incremental contract; per (app, sf_dir) the build runs once
    (session cache) and the tables live in a process-temp dir
    reclaimed after the finalize checkpoint."""
    from ..streaming import manifest as im

    def build() -> DataFrame:
        import shutil
        import tempfile

        from ..util import release_local_checkpoint

        docs = load(spark, sf_dir, "documents")
        mx = docs.agg(F.max("doc_id")).collect()[0][0]
        cuts = [0, mx // 3 + 1, 2 * (mx // 3) + 1, mx + 1]
        bench_grams = (
            docs.filter(
                (F.col("doc_id") % 25 == 0)
                & (F.length(F.trim(F.col("text"))) > 0)
            )
            .select(
                F.explode(
                    F.array_distinct(
                        tx._ngrams(tx.words(F.lower(F.col("text"))), 5)
                    )
                ).alias("gram")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        root = tempfile.mkdtemp(prefix="incr_manifest_")
        tables = im.ManifestTables(root)
        try:
            for i in range(3):
                batch = docs.filter(
                    (F.col("doc_id") >= cuts[i])
                    & (F.col("doc_id") < cuts[i + 1])
                )
                im.manifest_batch_ingest(
                    spark,
                    tables,
                    batch,
                    i,
                    bench_grams,
                    quality_min=0.5,
                    nd_threshold=0.5,
                    shingle_n=3,
                    num_bands=_MH_BANDS,
                    max_bucket_size=_MH_CAP,
                    contam_n=5,
                )
            return im.incremental_manifest_finalize(
                spark, tables, _MANIFEST_CAL_MIN, _MANIFEST_SHARDS
            ).localCheckpoint(eager=True)
        finally:
            # the finalize checkpoint holds the rows; the txlog tables
            # are scratch for this registered form
            shutil.rmtree(root, ignore_errors=True)
            release_local_checkpoint(bench_grams)

    return _INCR_MANIFEST_CACHE.get_or_build(spark, sf_dir, build)


@query(
    "keeper_quality_gain",
    oracle=f"""
    WITH exd AS MATERIALIZED ({_SQL_MANIFEST_EX}),
    p AS (
      SELECT doc_a, doc_b
      FROM ({_minhash_pairs_oracle(_SQL_MANIFEST_EX, cap=_MH_CAP)})
    ),
    g AS (
      SELECT CAST(round(greatest(qb.quality - qa.quality, 0) * 10000, 0)
                  AS BIGINT) AS gain_milli
      FROM p
      JOIN exd qa ON qa.doc_id = p.doc_a
      JOIN exd qb ON qb.doc_id = p.doc_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(CASE WHEN gain_milli > 0 THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_minid_suboptimal,
           round(sum(CASE WHEN gain_milli > 0 THEN 1 ELSE 0 END) * 1.0
                 / nullif(count(*), 0), 6) AS share_suboptimal,
           CAST(coalesce(sum(gain_milli), 0) AS BIGINT)
             AS total_gain_milli,
           round(sum(gain_milli) / 10000.0 / nullif(count(*), 0), 6)
             AS mean_gain,
           CAST(coalesce(max(gain_milli), 0) AS BIGINT) AS max_gain_milli
    FROM g
    """,
)
def keeper_quality_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUANTIFIED case for best-quality keepers: over the
    manifest's verified near-dup pairs, how often does the min-id
    rule keep the WORSE member (the higher-id side has strictly
    higher quality), and how much quality does switching to the
    best-quality rule recover per pair — the number a data owner
    reads before adopting corpus_build_manifest_best_keeper.

    Portability: per-pair gains are INTEGER milli-quality
    (round((q_b - q_a) * 10000) on 4dp-rounded inputs), so every sum
    is an exact BIGINT on both engines regardless of order; the two
    ratio columns divide those exact integers once at the end.

    Scale: rides the session-cached manifest base (ex + pairs shared
    with both manifest variants — no new signature work); the gain
    table is pair-volume; output is one row."""
    ex, pairs = _manifest_dedup_base(spark, sf_dir)
    qa = ex.select(F.col("doc_id").alias("doc_a"), F.col("quality").alias("q_a"))
    qb = ex.select(F.col("doc_id").alias("doc_b"), F.col("quality").alias("q_b"))
    g = (
        pairs.select("doc_a", "doc_b")
        .join(qa, "doc_a")
        .join(qb, "doc_b")
        .select(
            F.round(
                F.greatest(F.col("q_b") - F.col("q_a"), F.lit(0.0)) * 10000,
                0,
            )
            .cast("long")
            .alias("gain_milli")
        )
    )
    sub = F.sum(F.when(F.col("gain_milli") > 0, 1).otherwise(0))
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.coalesce(sub, F.lit(0)).cast("long").alias("n_minid_suboptimal"),
        F.round(
            sub * 1.0 / F.nullif(F.count(F.lit(1)), F.lit(0)), 6
        ).alias("share_suboptimal"),
        F.coalesce(F.sum("gain_milli"), F.lit(0))
        .cast("long")
        .alias("total_gain_milli"),
        F.round(
            F.sum("gain_milli")
            / 10000.0
            / F.nullif(F.count(F.lit(1)), F.lit(0)),
            6,
        ).alias("mean_gain"),
        F.coalesce(F.max("gain_milli"), F.lit(0))
        .cast("long")
        .alias("max_gain_milli"),
    )


# ---------------------------------------------------------------------------
# Dedup-method evaluation: approx candidates vs exact-Jaccard truth
# ---------------------------------------------------------------------------


def _recall_report_oracle() -> str:
    """Composes the pair-pipeline oracles as CTE subqueries (DuckDB
    allows WITH inside a derived table), so the report's oracle can
    never drift from the per-method oracle generators. All three
    methods run over the SAME near-dup corpus here (the registered
    simhash_near_dups evaluates on its own light-edit corpus; this
    report deliberately measures how its hamming cutoff behaves in
    MinHash's truncation regime). Truth is the CAPPED exact Jaccard
    (max_shingle_freq=4) — the scale-safe default; see the report
    docstring."""
    from .registry import ORACLE

    jac = ORACLE["jaccard_near_dups"]
    mh = _minhash_pairs_oracle(_SQL_NEAR_DUP_CORPUS)
    sh = _simhash_pairs_oracle(_SQL_NEAR_DUP_CORPUS)
    return f"""
    WITH truth AS (SELECT doc_a, doc_b FROM ({jac})),
    mh AS (SELECT DISTINCT doc_a, doc_b FROM ({mh})),
    sh AS (SELECT DISTINCT doc_a, doc_b FROM ({sh})),
    stats AS (
      SELECT 'minhash_lsh' AS method,
             (SELECT count(*) FROM truth) AS n_truth,
             (SELECT count(*) FROM mh) AS n_candidates,
             (SELECT count(*) FROM truth t JOIN mh USING (doc_a, doc_b))
               AS n_overlap
      UNION ALL
      SELECT 'simhash_bands',
             (SELECT count(*) FROM truth),
             (SELECT count(*) FROM sh),
             (SELECT count(*) FROM truth t JOIN sh USING (doc_a, doc_b))
    )
    SELECT method,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           round(CASE WHEN n_candidates = 0 THEN 0.0
                      ELSE n_overlap * 1.0 / n_candidates END, 6)
             AS pair_precision,
           round(CASE WHEN n_truth = 0 THEN 0.0
                      ELSE n_overlap * 1.0 / n_truth END, 6) AS pair_recall
    FROM stats
    """


def _recall_pair_sets(
    corpus: DataFrame, shingles: DataFrame | None = None
) -> dict[str, DataFrame]:
    """The three pair sets dedup_recall_report composes (capped-exact
    truth, MinHash candidates, SimHash candidates), built from ONE
    shared (doc, shingle, hash) table. Factored out so the scale probe
    (scripts/sf_probe.py) counts EXACTLY the report's pair sets at
    base vs 10x rows — the per-stage data behind its shuffle ratio.
    `shingles` injects the session-cached table (the registered query
    passes _near_dup_shingles); None builds one here (probe corpora
    are per-call)."""
    # all three methods consume the SAME (doc, shingle, hash) table —
    # build it once (one explode + one char-fold pass) and share it; a
    # lazy localCheckpoint materializes it on first action so the three
    # pipelines read the checkpoint instead of re-deriving it. At scale
    # this is the difference between one pass over corpus characters
    # and three.
    if shingles is None:
        shingles = (
            dedup_text._doc_shingles(corpus, "doc_id", "text", 3)
            .withColumn("h", dedup_text._portable_hash(F.col("shingle")))
            .localCheckpoint(eager=False)
        )
    # each pair set feeds 2-4 aggregates below; a LAZY localCheckpoint
    # runs every pipeline exactly once on first action while keeping
    # DataFrame construction side-effect-free (eager would execute all
    # three pipelines at build/explain time). Pair sets are
    # output-sized — KBs here, bounded by the near-dup rate
    truth = dedup_text.jaccard_pairs(
        corpus, threshold=0.5, n=3, shingles=shingles, max_shingle_freq=4
    ).select("doc_a", "doc_b").localCheckpoint(eager=False)
    mh = (
        dedup_text.minhash_portable_pairs(
            corpus, threshold=0.5, n=3, num_bands=_MH_BANDS, shingles=shingles
        )
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    sh = (
        dedup_text.simhash_portable_near_dup_pairs(
            corpus, max_hamming=3, n=3, shingles=shingles
        )
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    return {"truth": truth, "minhash": mh, "simhash": sh}


@query("dedup_recall_report", oracle=_recall_report_oracle())
def dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approx-dedup EVALUATION: precision/recall of the two portable
    candidate generators (MinHash+LSH at est>=0.5; SimHash 4x14-bit
    bands at hamming<=3) against exact n-gram Jaccard>=0.5 ground
    truth, all over the same near-dup corpus — the calibration table a
    pipeline team publishes before swapping an exact dedup for a
    banded one at scale. MinHash recall here reflects signature
    estimation error at the threshold boundary; SimHash measures how
    a hamming cutoff maps onto a Jaccard one (different similarity,
    hence the visible precision gap).

    Scale: each pair set is the corresponding operator's plan
    (banded equi-joins, never all-pairs); the report reduces them to
    three counts each via two-column equi-joins of pair KEYS only.
    Truth generation was the one quadratic-risk input — the shipped
    report therefore uses the CAPPED exact Jaccard
    (max_shingle_freq=4, same guard and value as
    the capped jaccard_near_dups primary, replicated in the oracle) as its truth
    set by default, so the whole harness is scale-safe; the uncapped
    exact form remains available as the sf-bounded library baseline
    (jaccard_pairs with max_shingle_freq=None)."""
    corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
    sets = _recall_pair_sets(
        corpus, shingles=_near_dup_shingles(spark, sf_dir)
    )
    truth, mh, sh = sets["truth"], sets["minhash"], sets["simhash"]

    def stat_row(method: str, cand: DataFrame) -> DataFrame:
        nt = truth.agg(F.count("*").alias("n_truth"))
        nc = cand.agg(F.count("*").alias("n_candidates"))
        no = truth.join(cand, ["doc_a", "doc_b"]).agg(
            F.count("*").alias("n_overlap")
        )
        return (
            nt.crossJoin(nc)
            .crossJoin(no)
            .select(F.lit(method).alias("method"), "n_truth",
                    "n_candidates", "n_overlap")
        )

    stats = stat_row("minhash_lsh", mh).unionByName(
        stat_row("simhash_bands", sh)
    )
    prec = F.when(F.col("n_candidates") == 0, F.lit(0.0)).otherwise(
        F.col("n_overlap") / F.col("n_candidates")
    )
    rec = F.when(F.col("n_truth") == 0, F.lit(0.0)).otherwise(
        F.col("n_overlap") / F.col("n_truth")
    )
    return stats.select(
        "method",
        "n_truth",
        "n_candidates",
        "n_overlap",
        F.round(prec, 6).alias("pair_precision"),
        F.round(rec, 6).alias("pair_recall"),
    )


@query(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum({tx.sql_token_count_ws('text')}) AS BIGINT)
             AS n_tokens_ws,
           CAST(sum(len(regexp_extract_all(text, '{_SQL_BPE_RE}')))
             AS BIGINT) AS n_tokens_bpe,
           round(sum(length(text)) * 1.0 /
                 sum(len(regexp_extract_all(text, '{_SQL_BPE_RE}'))), 4)
             AS chars_per_bpe_token,
           round(sum(len(regexp_extract_all(text, '{_SQL_BPE_RE}'))) * 1.0 /
                 sum({tx.sql_token_count_ws('text')}), 4)
             AS bpe_per_word
    FROM documents
    GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars per BPE-ish token and
    BPE tokens per whitespace word, by lang. The multilingual token
    budgeting table — languages that fragment into more tokens per
    word (here zh, whose han chars each match the punct/other class)
    cost proportionally more of a fixed token budget, which is why
    mixture weights are set in TOKENS, not docs or chars. Counter
    exprs shared with doc_token_stats (tx.token_count_*), so the two
    views cannot drift.

    Scale: single scan, map-side-combinable integer sums keyed by the
    handful of languages — the cheapest shape there is."""
    d = load(spark, sf_dir, "documents")
    bpe = tx.token_count_bpe(F.col("text"))
    ws = tx.token_count_ws(F.col("text"))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(ws).alias("n_tokens_ws"),
        F.sum(bpe).alias("n_tokens_bpe"),
        F.round(
            F.sum(F.length("text")) * 1.0 / F.sum(bpe), 4
        ).alias("chars_per_bpe_token"),
        F.round(F.sum(bpe) * 1.0 / F.sum(ws), 4).alias("bpe_per_word"),
    )


_KANON_K = 5


@query(
    "k_anonymity_report",
    oracle=f"""
    SELECT lang, source, count(*) AS n_docs,
           CAST(CASE WHEN count(*) < {_KANON_K} THEN 1 ELSE 0 END AS INT)
             AS k_violation
    FROM documents
    GROUP BY lang, source
    """,
)
def k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier columns (lang,
    source): any equivalence class with fewer than k={_KANON_K}
    members re-identifies its documents' provenance — the governance
    check run next to pii_scan before a corpus release (Sweeney 2002,
    public method). Emits every class with its size and violation
    flag so the release gate can suppress or generalize small cells.

    Scale: one map-side-combinable count keyed by the quasi-identifier
    tuple; class cardinality (langs x sources), not corpus size."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (F.count("*") < _KANON_K).cast("int").alias("k_violation"),
    )


_LDIV_L = 3


@query(
    "l_diversity_report",
    oracle=f"""
    SELECT event_type,
           strftime(ts, '%Y-%m-%d') AS event_date,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS l,
           CAST(CASE WHEN count(DISTINCT user_id) < {_LDIV_L}
                     THEN 1 ELSE 0 END AS INT) AS l_violation
    FROM events
    GROUP BY 1, 2
    """,
)
def l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007, the standard
    strengthening of k-anonymity, public method): within each
    quasi-identifier class (event_type, event_date), the SENSITIVE
    attribute (user_id) must take at least l={_LDIV_L} distinct
    values — a class passing k-anonymity on size can still leak
    identity when all its rows belong to one or two users ("every
    purchase on 2024-03-01 is user 42"). Companion to
    `k_anonymity_report` in the pre-release governance gate.

    Scale: one groupBy on the quasi-identifier tuple with a distinct
    count (Spark's two-phase partial-distinct expand); output is
    class-cardinality (types x days), never event-cardinality."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("event_date")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("l"),
        (F.countDistinct("user_id") < _LDIV_L).cast("int").alias(
            "l_violation"
        ),
    )


# ---------------------------------------------------------------------------
# Round 6: near-dup-aware dataset split + MinHash cross-corpus decontamination
# ---------------------------------------------------------------------------

# fuzzy-decontamination banding: k=16 minima as 8 bands of r=2 — a
# LOOSER net than the near-dup pairing's 4x4 (per-band match P = j^2
# vs j^4), which is the right trade for contamination screening:
# missing a leaked benchmark doc costs eval integrity, a false
# positive costs one needlessly-dropped document.
_DECON_BANDS = 8
_DECON_R = _MH_K // _DECON_BANDS
# semantic-screen cosine threshold for the method-agreement matrix —
# deliberately permissive (the matrix's job is showing where the
# screens DISAGREE; the release-gate threshold lives in
# embedding_decontamination at 0.99)
_SEM_TAU = 0.40


def _sql_mh_sig_ctes(corpus_cte: str, suffix: str) -> str:
    """CTE chain (normed -> shingled -> hashed -> sig), names suffixed
    so one oracle can carry signatures for two corpora."""
    return f"""
    normed{suffix} AS (
      SELECT doc_id, {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))} AS ws
      FROM {corpus_cte}
    ),
    shingled{suffix} AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM normed{suffix} WHERE len(ws) >= 3
    ),
    hashed{suffix} AS (
      SELECT doc_id, {_SQL_SHINGLE_HASH} AS h FROM shingled{suffix}
    ),
    sig{suffix} AS (
      SELECT doc_id,
             {_SQL_MH_MINS}
      FROM hashed{suffix} GROUP BY doc_id
    )"""


def _sql_mh_bands_from(sig_table: str, num_bands: int, r: int) -> str:
    return "\n      UNION ALL\n".join(
        "      SELECT doc_id, {band} AS band, {key} AS bk FROM {t}".format(
            band=b,
            key=" || '-' || ".join(
                f"CAST(m{b * r + j} AS VARCHAR)" for j in range(r)
            ),
            t=sig_table,
        )
        for b in range(num_bands)
    )


@query(
    "minhash_decontamination",
    oracle=f"""
    WITH bench AS (
      SELECT doc_id, text FROM documents WHERE source = 'src0'
    ),
    corpus AS (
      SELECT doc_id, text FROM documents WHERE source <> 'src0'
      UNION ALL
      SELECT doc_id + {_COPY_OFFSET} AS doc_id,
             substr(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
      FROM documents WHERE source = 'src0'
    ),
    {_sql_mh_sig_ctes('bench', '_b')},
    {_sql_mh_sig_ctes('corpus', '_c')},
    band_b AS (
{_sql_mh_bands_from('sig_b', _DECON_BANDS, _DECON_R)}
    ),
    band_c AS (
{_sql_mh_bands_from('sig_c', _DECON_BANDS, _DECON_R)}
    )
    SELECT c.doc_id AS doc_id,
           CAST(count(DISTINCT c.band) AS BIGINT) AS n_shared_bands
    FROM band_c c
    JOIN band_b b ON c.band = b.band AND c.bk = b.bk
    GROUP BY c.doc_id
    """,
)
def minhash_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination (the MinHash complement to
    `benchmark_contamination`'s exact n-gram overlap): flag every
    corpus document sharing >=1 MinHash band key with any document of
    a held-out benchmark (here: source='src0', with planted 80%-
    truncated leaks of it in the corpus). Exact-gram screens miss
    paraphrased/truncated leakage; banded signatures catch anything
    with high shingle-set overlap — the screen run before an eval
    release (Brown et al. 2020 appendix-C style, public method).

    Scale: both sides reduce to (band, key) tables — corpus bands
    shuffle on the band key and equi-join the benchmark's (tiny:
    benchmarks are KBs-MBs, broadcastable); NEVER doc x benchmark
    all-pairs. Output is flagged doc ids with their matched-band
    count, so the decision threshold is tunable downstream without
    recomputing signatures. Banding is 8x2 (vs pairing's 4x4):
    recall-biased, the right side of the trade for leakage.

    r15: the bench/corpus band tables come from the shared
    _decon_band_tables session build (one signature pass serves this
    query and the by-source breakdown)."""
    band_b, band_c = _decon_band_tables(spark, sf_dir)
    return (
        band_c.join(
            F.broadcast(band_b.select("band", "bk").distinct()),
            ["band", "bk"],
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("band").alias("n_shared_bands"))
    )


@query(
    "minhash_decontamination_by_source",
    oracle=f"""
    WITH bench AS (
      SELECT doc_id, text FROM documents WHERE source = 'src0'
    ),
    corpus AS (
      SELECT doc_id, source, text FROM documents WHERE source <> 'src0'
      UNION ALL
      SELECT doc_id + {_COPY_OFFSET} AS doc_id, 'src0' AS source,
             substr(text, 1, CAST(floor(length(text) * 0.8) AS INT)) AS text
      FROM documents WHERE source = 'src0'
    ),
    {_sql_mh_sig_ctes('bench', '_b')},
    {_sql_mh_sig_ctes('corpus', '_c')},
    band_b AS (
{_sql_mh_bands_from('sig_b', _DECON_BANDS, _DECON_R)}
    ),
    band_c AS (
{_sql_mh_bands_from('sig_c', _DECON_BANDS, _DECON_R)}
    ),
    bsplit AS (
      SELECT DISTINCT 'bench_' || CAST(doc_id % 3 AS VARCHAR) AS split,
             band, bk
      FROM band_b
    ),
    hits AS (
      SELECT s.split, c.doc_id,
             count(DISTINCT c.band) AS nb
      FROM band_c c JOIN bsplit s ON c.band = s.band AND c.bk = s.bk
      GROUP BY 1, 2
    )
    SELECT h.split, c.source,
           CAST(count(*) AS BIGINT) AS n_flagged_docs,
           CAST(sum(h.nb) AS BIGINT) AS n_shared_bands
    FROM hits h JOIN corpus c ON c.doc_id = h.doc_id
    GROUP BY 1, 2
    """,
)
def minhash_decontamination_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """minhash_decontamination's per-(benchmark split x corpus
    source) breakdown (r12 verdict #6): the fuzzy-leakage readout a
    data owner acts on — WHICH source leaks into WHICH benchmark
    split, with flagged-doc and shared-band counts. Benchmark docs
    are partitioned into three named splits by doc_id % 3; planted
    80%-truncated leaks carry their origin source ('src0'), so the
    planted signal must surface entirely under that source.

    Scale: identical band tables to the corpus-wide query — shared
    outright via the _decon_band_tables session build as of r15 (the
    benchmark side stays broadcastable); the only additions are the
    split label on the broadcast side, the (doc_id, source) lookup
    (a bands-free docs projection), and one (split, source) aggregate
    over the flagged rows — output is split x source bounded."""
    band_b, band_c = _decon_band_tables(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    src_map = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id", "source")
        .unionByName(
            docs.filter(F.col("source") == "src0").select(
                (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
                F.lit("src0").alias("source"),
            )
        )
    )
    bsplit = band_b.select(
        F.concat(
            F.lit("bench_"), F.pmod(F.col("did"), F.lit(3)).cast("string")
        ).alias("split"),
        "band",
        "bk",
    ).distinct()
    hits = (
        band_c.join(F.broadcast(bsplit), ["band", "bk"])
        .groupBy("split", "doc_id")
        .agg(F.count_distinct("band").alias("nb"))
    )
    return (
        hits.join(src_map, "doc_id")
        .groupBy("split", "source")
        .agg(
            F.count("*").cast("long").alias("n_flagged_docs"),
            F.sum("nb").cast("long").alias("n_shared_bands"),
        )
    )


@query(
    "decontamination_method_agreement",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_WORDS.format(t='lower(text)')} AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    g AS (
      SELECT doc_id,
             unnest(list_distinct({tx.sql_ngrams('ws', 5)})) AS gram
      FROM toks
    ),
    bgr AS (SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0),
    exact_hit AS (
      SELECT DISTINCT c.doc_id FROM g c JOIN bgr b USING (gram)
      WHERE c.doc_id % 25 <> 0
    ),
    benchd AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 25 = 0 AND length(trim(text)) > 0
    ),
    corpd AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id % 25 <> 0 AND length(trim(text)) > 0
    ),
    {_sql_mh_sig_ctes('benchd', '_b')},
    {_sql_mh_sig_ctes('corpd', '_c')},
    band_b AS (
{_sql_mh_bands_from('sig_b', _DECON_BANDS, _DECON_R)}
    ),
    band_c AS (
{_sql_mh_bands_from('sig_c', _DECON_BANDS, _DECON_R)}
    ),
    fuzzy_hit AS (
      SELECT DISTINCT c.doc_id
      FROM band_c c JOIN band_b b ON c.band = b.band AND c.bk = b.bk
    ),
    vecs AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS nrm
      FROM embeddings JOIN toks ON vec_id = toks.doc_id
    ),
    bvec AS (SELECT * FROM vecs WHERE doc_id % 25 = 0),
    semantic_hit AS (
      SELECT DISTINCT c.doc_id
      FROM vecs c JOIN bvec b
        ON list_dot_product(c.v, b.v) / (c.nrm * b.nrm) >= {_SEM_TAU}
      WHERE c.doc_id % 25 <> 0
    ),
    flags AS (
      SELECT t.doc_id,
             CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS exact_flag,
             CASE WHEN f.doc_id IS NULL THEN 0 ELSE 1 END AS fuzzy_flag,
             CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END AS semantic_flag
      FROM toks t
      LEFT JOIN exact_hit e ON e.doc_id = t.doc_id
      LEFT JOIN fuzzy_hit f ON f.doc_id = t.doc_id
      LEFT JOIN semantic_hit s ON s.doc_id = t.doc_id
      WHERE t.doc_id % 25 <> 0
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM flags)
    SELECT CAST(exact_flag AS INT) AS exact_flag,
           CAST(fuzzy_flag AS INT) AS fuzzy_flag,
           CAST(semantic_flag AS INT) AS semantic_flag,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) * 1.0 / (SELECT n FROM tot), 6) AS doc_share
    FROM flags GROUP BY 1, 2, 3
    """,
)
def decontamination_method_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Method-agreement matrix for decontamination screens, on ONE
    consistent benchmark (the doc_id % 25 holdout): every corpus doc
    is flagged by the exact 5-gram screen, the fuzzy MinHash-band
    screen (8 recall-biased r=2 bands), and the semantic
    embedding screen (max cosine to any benchmark vector >=
    {_SEM_TAU}) — the 2x2x2 the team reads to decide whether the
    cheap exact screen suffices, paraphrase-level leakage demands the
    banded pass, or only embedding distance catches the rewrite. (The
    registered minhash_decontamination keeps its own src0 corpus; the
    point HERE is all three methods judging the same docs against the
    same benchmark.)

    The semantic arm is the EXACT brute-force screen (corpus x
    broadcast-benchmark max cosine), not the LSH-bucketed
    embedding_decontamination: a recall-lossy screen would pollute
    the disagreement cells this matrix exists to expose. That stays
    scale-sound because the benchmark side is eval-sized — a
    broadcast nested-loop SEMI join that early-outs per corpus row
    at the first qualifying benchmark vector; the corpus is never
    shuffled for it.

    Scale: the benchmark's gram set, band table, and vectors are all
    eval-sized broadcasts; each screen reduces to distinct flagged
    doc ids (hit-volume); the final matrix is an 8-row aggregate over
    lazily-checkpointed flags (both the total and the matrix consume
    ONE execution of the three screens). The corpus is scanned three
    times (token grams / shingle signatures / vectors), never
    shuffled on gram or band key. The hit-id broadcasts assume
    contamination is rare — set
    ``spark.clickstreamtoclickhouse.screenJoin=shuffle`` to drop
    those hints under pathological contamination
    (util.conf_broadcast)."""
    d = widen_scan(load(spark, sf_dir, "documents")).filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                tx._ngrams(tx.words(F.lower(F.col("text"))), 5)
            )
        ).alias("gram"),
    )
    bgr = grams.filter(F.col("doc_id") % 25 == 0).select("gram").distinct()
    exact_hit = (
        grams.filter(F.col("doc_id") % 25 != 0)
        .join(F.broadcast(bgr), "gram")
        .select("doc_id")
        .distinct()
        .withColumn("e", F.lit(1))
    )
    benchd = d.filter(F.col("doc_id") % 25 == 0).select("doc_id", "text")
    corpd = d.filter(F.col("doc_id") % 25 != 0).select("doc_id", "text")
    band_b = dedup_text.minhash_portable_bands(
        benchd, n=3, num_bands=_DECON_BANDS
    ).select("band", "bk").distinct()
    band_c = dedup_text.minhash_portable_bands(
        corpd, n=3, num_bands=_DECON_BANDS
    ).select(F.col("did").alias("doc_id"), "band", "bk")
    fuzzy_hit = (
        band_c.join(F.broadcast(band_b), ["band", "bk"])
        .select("doc_id")
        .distinct()
        .withColumn("f", F.lit(1))
    )

    def with_vec(df: DataFrame, id_alias: str):
        v = F.col("embedding").cast("array<double>")
        nrm = F.sqrt(
            F.aggregate(
                F.zip_with(v, v, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return df.select(
            F.col("vec_id").alias(id_alias),
            v.alias(f"v_{id_alias}"),
            nrm.alias(f"n_{id_alias}"),
        )

    vecs = load(spark, sf_dir, "embeddings").join(
        d.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    bv = with_vec(vecs.filter(F.col("vec_id") % 25 == 0), "bench_id")
    cv = with_vec(vecs.filter(F.col("vec_id") % 25 != 0), "corpus_id")
    dot = F.aggregate(
        F.zip_with("v_corpus_id", "v_bench_id", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    semantic_hit = (
        cv.join(
            F.broadcast(bv),
            dot / (F.col("n_corpus_id") * F.col("n_bench_id"))
            >= F.lit(_SEM_TAU),
            "left_semi",
        )
        .select(F.col("corpus_id").alias("doc_id"))
        .withColumn("s", F.lit(1))
    )
    from ..util import conf_broadcast

    # lazy lineage cut: tot AND the matrix both consume flags; without
    # it the full triple screen (gram explode + both band builds + the
    # semantic NLJ) executes twice (r13 advice)
    flags = (
        corpd.select("doc_id")
        .join(conf_broadcast(exact_hit), "doc_id", "left")
        .join(conf_broadcast(fuzzy_hit), "doc_id", "left")
        .join(conf_broadcast(semantic_hit), "doc_id", "left")
        .select(
            F.coalesce("e", F.lit(0)).cast("int").alias("exact_flag"),
            F.coalesce("f", F.lit(0)).cast("int").alias("fuzzy_flag"),
            F.coalesce("s", F.lit(0)).cast("int").alias("semantic_flag"),
        )
    ).localCheckpoint(eager=False)
    tot = flags.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        flags.groupBy("exact_flag", "fuzzy_flag", "semantic_flag")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "exact_flag",
            "fuzzy_flag",
            "semantic_flag",
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("n"), 6).alias(
                "doc_share"
            ),
        )
    )


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE corpus AS ({_SQL_NEAR_DUP_CORPUS}),
    normed AS (
      SELECT doc_id, {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))} AS ws
      FROM corpus
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM normed WHERE len(ws) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shingled a JOIN shingled b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.5
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(node, comp) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.node
    ),
    comp AS (
      SELECT node AS doc_id, min(comp) AS component FROM walk GROUP BY node
    )
    SELECT doc_id, component,
           CASE WHEN hb < 80 THEN 'train'
                WHEN hb < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, component,
             ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS hb
      FROM comp
    ) h
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that can NEVER leak near-duplicates across
    splits: hash the duplicate-CLUSTER id, not the document id.
    `dataset_split`'s per-doc hash is correct for deduped corpora, but
    on a raw corpus it puts ~20% of each near-dup cluster's members
    outside train — the classic eval-contamination bug (a test doc's
    near-copy in train). Composing connected components (Jaccard>=0.5
    pairs) with the SAME portable-hash split rule closes it: every
    member of a component shares the component hash, hence the split.

    Scale: jaccard pair generation + O(log n) large-star/small-star
    (both existing, plan-audited ops); the split itself is a pure
    projection off the component id. The oracle recomputes components
    via recursive reachability — a different algorithm agreeing on the
    fixed point — then applies the identical md5 rule."""
    from ..util import portable_id_hash

    corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
    pairs = dedup_text.jaccard_pairs(
        corpus, threshold=0.5, n=3,
        shingles=_near_dup_shingles(spark, sf_dir),
    )
    comp = graph.cluster_assignments(
        corpus, pairs, id_col="doc_id", pair_a="doc_a", pair_b="doc_b"
    ).select("doc_id", "component")
    hb = portable_id_hash(F.col("component")) % 100
    return comp.select(
        "doc_id",
        "component",
        F.when(hb < 80, "train")
        .when(hb < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "corpus_release_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, lang, source,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE {tx.SQL_WORDS.format(t='lower(text)')} END AS ws,
             md5({_SQL_NORM.format(t='text')}) AS fp
      FROM documents
    ),
    g AS (
      SELECT *,
             {tx.sql_ngrams('ws', 2)} AS bg,
             {tx.sql_ngrams('ws', 3)} AS tg
      FROM t
    ),
    m AS (
      SELECT lang, source, fp,
             length(text) AS n_chars,
             {tx.sql_token_count_ws('text')} AS n_tok,
             CASE WHEN len(ws) BETWEEN 10 AND 100000
                   AND (CASE WHEN len(ws) = 0 THEN 0.0
                        ELSE length(regexp_replace(text, '\\s+', '', 'g'))
                             * 1.0 / len(ws) END) BETWEEN 3 AND 10
                   AND (CASE WHEN len(bg) = 0 THEN 0.0
                        ELSE list_max(list_transform(list_distinct(bg),
                               b -> len(list_filter(bg, x -> x = b))))
                             * 1.0 / len(bg) END) <= 0.20
                   AND (CASE WHEN len(tg) = 0 THEN 0.0
                        ELSE (len(tg) - len(list_distinct(tg)))
                             * 1.0 / len(tg) END) <= 0.30
                   AND len(list_intersect(list_distinct(ws),
                           {tx.sql_stopword_list('en')})) >= 2
                  THEN 1 ELSE 0 END AS passes
      FROM g
    ),
    s AS (
      SELECT count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens_ws,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT source) AS n_sources,
             avg(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END) AS en_share,
             1.0 - count(DISTINCT fp) * 1.0 / count(*) AS dup_rate,
             avg(passes * 1.0) AS pass_rate
      FROM m
    )
    SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM s
    UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM s
    UNION ALL SELECT 'n_tokens_ws', CAST(n_tokens_ws AS DOUBLE) FROM s
    UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM s
    UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM s
    UNION ALL SELECT 'english_share', round(en_share, 6) FROM s
    UNION ALL SELECT 'exact_dup_rate', round(dup_rate, 6) FROM s
    UNION ALL SELECT 'gopher_pass_rate', round(pass_rate, 6) FROM s
    UNION ALL SELECT 'mean_doc_tokens',
                     round(n_tokens_ws * 1.0 / n_docs, 6) FROM s
    """,
)
def corpus_release_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATASHEET (Gebru et al. 2021 'Datasheets for
    Datasets' — the summary table published alongside a training-data
    release): volume (docs/chars/whitespace tokens), provenance
    breadth (languages, sources), English share, exact-duplicate rate
    (normalized-text md5), and Gopher-filter pass rate — one row per
    metric so downstream release gates diff it trivially against the
    previous snapshot (snapshot_diff composes directly).

    Plan: ONE scan computes every per-row metric (the Gopher chain,
    token count, and md5 fingerprint are pure projections), then a
    single aggregate with two count(DISTINCT)s (one Expand) reduces
    to a 1-row summary exploded into the report — report size is
    fixed at 9 rows at any corpus scale."""
    d = widen_scan(load(spark, sf_dir, "documents"))
    stats = tx.gopher_stats(F.col("text"))
    row = d.select(
        "lang",
        "source",
        tx.fingerprint_md5(F.col("text")).alias("fp"),
        F.length("text").alias("n_chars"),
        tx.token_count_ws(F.col("text")).alias("n_tok"),
        stats.getField("passes_quality").alias("passes"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_tok").alias("n_tokens_ws"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
        F.avg(F.when(F.col("lang") == "en", 1.0).otherwise(0.0)).alias(
            "en_share"
        ),
        (
            F.lit(1.0)
            - F.count_distinct("fp") / F.count(F.lit(1))
        ).alias("dup_rate"),
        F.avg(F.col("passes").cast("double")).alias("pass_rate"),
    )
    metrics = [
        ("n_docs", F.col("n_docs").cast("double")),
        ("n_chars", F.col("n_chars").cast("double")),
        ("n_tokens_ws", F.col("n_tokens_ws").cast("double")),
        ("n_langs", F.col("n_langs").cast("double")),
        ("n_sources", F.col("n_sources").cast("double")),
        ("english_share", F.round("en_share", 6)),
        ("exact_dup_rate", F.round("dup_rate", 6)),
        ("gopher_pass_rate", F.round("pass_rate", 6)),
        (
            "mean_doc_tokens",
            F.round(F.col("n_tokens_ws") / F.col("n_docs"), 6),
        ),
    ]
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(name).alias("metric"), col.alias("value"))
                    for name, col in metrics
                ]
            )
        ).alias("m")
    ).select("m.*")


@query(
    "media_dedup",
    oracle=f"""
    WITH media AS (
      SELECT doc_id AS media_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_COPY_OFFSET} AS media_id, text FROM documents
    )
    SELECT md5(text) AS content_hash,
           count(*) AS n_copies,
           min(media_id) AS keeper_id
    FROM media
    GROUP BY md5(text)
    """,
)
def media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY media column (every copy of the
    corpus holds the bytes once; the pipeline stores pointers): group
    by md5 of `content`, keep the min-id copy. Upgrades the
    multimodal family from rows-only — Spark hashes the binary
    column's bytes, and because the synthetic content IS the utf-8
    encoding of `text`, DuckDB's md5 over the text computes the
    identical digest, so binary-column handling itself is under the
    hash check.

    Scale: shuffle carries (16-byte digest, id) — content bytes never
    leave their executor. Same plan as text exact_dedup; at 100 TB of
    real media this is the petabyte-saver that runs before any decode."""
    media = multimodal.synth_media_from_documents(
        load(spark, sf_dir, "documents")
    ).select("media_id", "content")
    doubled = media.unionByName(
        media.select(
            (F.col("media_id") + _COPY_OFFSET).alias("media_id"), "content"
        )
    )
    return (
        doubled.groupBy(F.md5("content").alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("media_id").alias("keeper_id"),
        )
    )


def _sql_thumb_cells(corpus_sql: str) -> str:
    """CTE chain ending in `cells(media_id, c, cell)` — the 16
    byte-pooled bucket means per media item, the SQL twin of
    multimodal.resize_image(fake=True) over synthetic media whose
    content is the UTF-8 bytes of `text` (ASCII throughout the
    testdata, so ascii(substr) reads the identical byte stream).
    Shared by media_thumbnails and media_perceptual_dedup so the
    kernel replication cannot drift."""
    return f"""sized AS (
      SELECT media_id, text, length(text) AS n,
             CASE WHEN length(text) = 0 THEN 0
                  ELSE (length(text) + 15) // 16 END AS lp
      FROM ({corpus_sql})
    ),
    cells AS (
      SELECT media_id, c,
             CASE WHEN lp = 0 THEN 0
                  ELSE CAST(trunc(CAST(list_sum(list_transform(
                         range(c * lp + 1, c * lp + lp + 1),
                         i -> CASE WHEN i <= n
                                   THEN ascii(substr(text, CAST(i AS INT), 1))
                                   ELSE 0 END)) AS DOUBLE) / lp) AS INT)
             END AS cell
      FROM sized CROSS JOIN range(16) r(c)
    )"""


# copies with a LENGTH-PRESERVING one-byte edit (first char
# uppercased): the perceptual-hash planted positive — pooling smooths
# a one-byte change to a <=1 shift of one bucket mean, so most copies
# keep their aHash (measured 0.78 at sf0.01); a byte-APPENDING edit
# shifts every bucket boundary and is NOT what perceptual hashing
# promises to catch
_SQL_PERCEPTUAL_CORPUS = f"""
      SELECT doc_id AS media_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_COPY_OFFSET} AS media_id,
             upper(substr(text, 1, 1)) || substr(text, 2) AS text
      FROM documents
"""


@query(
    "media_perceptual_dedup",
    oracle=f"""
    WITH {_sql_thumb_cells(_SQL_PERCEPTUAL_CORPUS)},
    tot AS (
      SELECT media_id, CAST(sum(cell) AS BIGINT) AS tot
      FROM cells GROUP BY media_id
    ),
    ah AS (
      SELECT c.media_id,
             CAST(sum(CASE WHEN 16 * c.cell > t.tot
                           THEN (CAST(1 AS BIGINT) << c.c) ELSE 0 END)
                  AS BIGINT) AS ahash
      FROM cells c JOIN tot t USING (media_id)
      GROUP BY c.media_id
    ),
    dh AS (
      SELECT a.media_id,
             CAST(sum(CASE WHEN a.cell > b.cell
                           THEN (CAST(1 AS BIGINT) << a.c) ELSE 0 END)
                  AS BIGINT) AS dhash
      FROM cells a JOIN cells b ON a.media_id = b.media_id AND b.c = a.c + 1
      GROUP BY a.media_id
    )
    SELECT ahash,
           count(*) AS n_items,
           CAST(min(media_id) AS BIGINT) AS keeper_id,
           CAST(min(dhash) AS BIGINT) AS rep_dhash
    FROM ah JOIN dh USING (media_id)
    GROUP BY 1
    """,
)
def media_perceptual_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL media dedup over the binary column — the
    byte-identity upgrade of media_dedup: cluster by a 16-bit aHash
    (cell vs mean of the 4x4 byte-pooled thumbnail, in exact integer
    form 16*cell > sum), so NEAR-identical binaries (here: copies
    with a length-preserving one-byte edit, which md5 exact-dedup can
    never catch) collapse into one cluster; the 15-bit dHash
    (horizontal gradient sign) rides along as an oracle-checked
    representative column — the second signal a production pipeline
    thresholds on. The thumbnail comes from the REAL mapInPandas
    fake-decode kernel (the one media_thumbnails value-checks), so
    the whole Arrow plumbing + hash arithmetic is under the oracle; a
    real deployment swaps decode_image in and keeps every line
    downstream.

    The integer formulation (16*cell > total, cell_i > cell_{{i+1}})
    keeps both hashes bit-portable — no float mean, no rounding.

    Scale: hashes are two map-side-combinable aggregates over 16
    cells per item; the dedup shuffle carries (ahash, id, dhash) —
    bytes never move. Planted one-byte-edit cluster recall (~0.78) is
    pinned in test_extensions."""
    docs = load(spark, sf_dir, "documents")
    corpus_docs = docs.select("doc_id", "text").unionByName(
        docs.select(
            (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"),
            F.concat(
                F.upper(F.substring("text", 1, 1)),
                F.expr("substring(text, 2)"),
            ).alias("text"),
        )
    )
    media = multimodal.synth_media_from_documents(corpus_docs)
    th = multimodal.resize_image(media, width=4, height=4, fake=True)

    from ..functions.text import _let

    tarr = F.col("thumbnail")

    def with_tot(tt: F.Column) -> F.Column:
        ah = F.lit(0).cast("long")
        for c in range(16):
            ah = ah + F.when(
                F.element_at(tarr, c + 1).cast("long") * 16 > tt,
                F.lit(1 << c).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        return ah

    ahash = _let(
        F.aggregate(tarr, F.lit(0).cast("long"), lambda a, x: a + x),
        with_tot,
    )
    dhash = F.lit(0).cast("long")
    for c in range(15):
        dhash = dhash + F.when(
            F.element_at(tarr, c + 1) > F.element_at(tarr, c + 2),
            F.lit(1 << c).cast("long"),
        ).otherwise(F.lit(0).cast("long"))

    hashed = th.select(
        "media_id", ahash.alias("ahash"), dhash.alias("dhash")
    )
    return hashed.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min("media_id").cast("bigint").alias("keeper_id"),
        F.min("dhash").cast("bigint").alias("rep_dhash"),
    )


_SQL_LSHP_PLANES = f"""
      SELECT t, b, d,
             ('0x' || substr(md5('pl:' || t || ':' || b || ':' || d), 1, 8))::BIGINT
               / 2147483648.0 - 1.0 AS p
      FROM range({_LSHP_T}) r1(t), range({_LSHP_B}) r2(b), range({EMB_DIM}) r3(d)
"""


def _sql_lshp_bucket_ctes(corpus_cte: str, suffix: str) -> str:
    """rel -> proj -> buckets CTE chain for one corpus (names
    suffixed so one oracle can bucket two corpora against the shared
    `planes` table)."""
    return f"""
    rel{suffix} AS (
      SELECT vec_id,
             unnest(range(0, {EMB_DIM})) AS d,
             unnest(v) AS x
      FROM {corpus_cte}
    ),
    proj{suffix} AS (
      SELECT vec_id, t, b, round(sum(x * p), 6) AS s
      FROM rel{suffix} JOIN planes USING (d)
      GROUP BY 1, 2, 3
    ),
    buckets{suffix} AS (
      SELECT vec_id, t,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM proj{suffix} GROUP BY 1, 2
    )"""


_EMB_BENCH_MAX = 50  # vec_id < 50 plays the held-out benchmark set


@query(
    "embedding_decontamination",
    oracle=f"""
    WITH bench0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id < {_EMB_BENCH_MAX}
    ),
    corpus0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id >= {_EMB_BENCH_MAX}
      UNION ALL
      SELECT vec_id + {_COPY_OFFSET} AS vec_id,
             list_transform(embedding, x -> (x + CAST(0.01 AS FLOAT))::DOUBLE)
               AS v
      FROM embeddings WHERE vec_id < {_EMB_BENCH_MAX}
    ),
    bench AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM bench0
    ),
    corpus AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM corpus0
    ),
    planes AS ({_SQL_LSHP_PLANES}),
    {_sql_lshp_bucket_ctes('bench', '_b')},
    {_sql_lshp_bucket_ctes('corpus', '_c')},
    cand AS (
      SELECT DISTINCT c.vec_id AS corpus_id, b.vec_id AS bench_id
      FROM buckets_c c
      JOIN buckets_b b ON c.t = b.t AND c.bucket = b.bucket
    ),
    verified AS (
      SELECT corpus_id,
             list_dot_product(cc.v, cb.v) / (cc.nrm * cb.nrm) AS sim
      FROM cand
      JOIN corpus cc ON cc.vec_id = corpus_id
      JOIN bench cb ON cb.vec_id = bench_id
      WHERE list_dot_product(cc.v, cb.v) / (cc.nrm * cb.nrm) >= 0.99
    )
    SELECT corpus_id AS vec_id,
           count(*) AS n_bench_matches,
           round(max(sim), 6) AS max_sim
    FROM verified GROUP BY corpus_id
    """,
)
def embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement to
    `minhash_decontamination`'s lexical screen: corpus vectors that
    are near-duplicates (cosine >= 0.99) of a held-out benchmark's
    vectors (vec_id < {_EMB_BENCH_MAX}, with planted +0.01-perturbed
    leaks in the corpus). Paraphrased leakage changes every shingle
    but barely moves the embedding — this catches what the lexical
    screen cannot; together they are the release-gate pair.

    Two stages, the repo's standard LSH shape: (1) CANDIDATES =
    corpus vectors sharing any hyperplane (table, bucket) cell with a
    benchmark vector — benchmark cells are tiny and broadcast, never
    vector x benchmark all-pairs (recall at cosine 0.9968: per-table
    P ~= 0.81, miss across {_LSHP_T} tables ~= 4e-5); (2) EXACT
    cosine verify on candidates only, which discards same-topic
    cluster-mates (cos ~0.84) that share buckets by semantic
    closeness without being leaks. Portable md5-derived planes keep
    both stages — bucketing included — under the DuckDB hash check."""
    emb = load(spark, sf_dir, "embeddings")
    # r14: bench feeds its bucket build AND the verify side; corpus
    # likewise — unpinned, each side's scan (+ the perturbed-copy
    # transform) re-ran per consumer (12 scans). One execution each
    # (guide §3.3; the incremental_lsh_dedup stance).
    bench = emb.filter(F.col("vec_id") < _EMB_BENCH_MAX).select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=False)
    corpus = (
        emb.filter(F.col("vec_id") >= _EMB_BENCH_MAX)
        .select("vec_id", "embedding")
        .unionByName(
            bench.select(
                (F.col("vec_id") + _COPY_OFFSET).alias("vec_id"),
                F.transform(
                    "embedding", lambda x: x + F.lit(0.01).cast("float")
                ).alias("embedding"),
            )
        )
        .localCheckpoint(eager=False)
    )
    bb = similarity.lsh_portable_buckets(
        bench, dim=EMB_DIM, num_tables=_LSHP_T, bits=_LSHP_B
    ).select(F.col("vec_id").alias("bench_id"), "t", "bucket")
    cb = similarity.lsh_portable_buckets(
        corpus, dim=EMB_DIM, num_tables=_LSHP_T, bits=_LSHP_B
    ).select(F.col("vec_id").alias("corpus_id"), "t", "bucket")
    cand = (
        cb.join(F.broadcast(bb), ["t", "bucket"])
        .select("corpus_id", "bench_id")
        .distinct()
    )

    def with_norm(df, id_alias):
        v = F.col("embedding").cast("array<double>")
        return df.select(
            F.col("vec_id").alias(id_alias),
            v.alias(f"v_{id_alias}"),
            F.sqrt(
                F.aggregate(
                    F.zip_with(v, v, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias(f"n_{id_alias}"),
        )

    cv = with_norm(corpus, "corpus_id")
    bv = with_norm(bench, "bench_id")
    dot = F.aggregate(
        F.zip_with("v_corpus_id", "v_bench_id", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = dot / (F.col("n_corpus_id") * F.col("n_bench_id"))
    return (
        cand.join(cv, "corpus_id")
        .join(F.broadcast(bv), "bench_id")
        .filter(sim >= 0.99)
        .select(F.col("corpus_id").alias("vec_id"), sim.alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_matches"),
            F.round(F.max("sim"), 6).alias("max_sim"),
        )
    )


_IED_LO, _IED_HI, _IED_FRESH = 50, 250, 300  # corpus / fresh id ranges


@query(
    "incremental_embedding_dedup",
    oracle=f"""
    WITH corpus0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id >= {_IED_LO} AND vec_id < {_IED_HI}
    ),
    batch0 AS (
      SELECT vec_id + {_COPY_OFFSET} AS vec_id,
             list_transform(embedding, x -> (x + CAST(0.01 AS FLOAT))::DOUBLE)
               AS v
      FROM embeddings WHERE vec_id >= {_IED_LO} AND vec_id < {_IED_LO + 50}
      UNION ALL
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id >= {_IED_HI} AND vec_id < {_IED_FRESH}
    ),
    corpus AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM corpus0
    ),
    batch AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM batch0
    ),
    planes AS ({_SQL_LSHP_PLANES}),
    {_sql_lshp_bucket_ctes('corpus', '_c')},
    {_sql_lshp_bucket_ctes('batch', '_b')},
    cand_bc AS (
      SELECT DISTINCT b.vec_id AS bid, c.vec_id AS cid
      FROM buckets_b b JOIN buckets_c c ON b.t = c.t AND b.bucket = c.bucket
    ),
    hits AS (
      SELECT DISTINCT bid FROM cand_bc
      JOIN batch vb ON vb.vec_id = bid
      JOIN corpus vc ON vc.vec_id = cid
      WHERE list_dot_product(vb.v, vc.v) / (vb.nrm * vc.nrm) >= 0.995
    ),
    live AS (
      SELECT vec_id FROM batch t
      WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.bid = t.vec_id)
    ),
    cand_bb AS (
      SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
      FROM buckets_b a
      JOIN buckets_b b2 ON a.t = b2.t AND a.bucket = b2.bucket
                        AND a.vec_id < b2.vec_id
      WHERE EXISTS (SELECT 1 FROM live l WHERE l.vec_id = a.vec_id)
        AND EXISTS (SELECT 1 FROM live l WHERE l.vec_id = b2.vec_id)
    ),
    beaten AS (
      SELECT DISTINCT id_b FROM cand_bb
      JOIN batch va ON va.vec_id = id_a
      JOIN batch vb2 ON vb2.vec_id = id_b
      WHERE list_dot_product(va.v, vb2.v) / (va.nrm * vb2.nrm) >= 0.995
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id
    FROM live t
    WHERE NOT EXISTS (SELECT 1 FROM beaten b WHERE b.id_b = t.vec_id)
    """,
)
def incremental_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC continuous-ingestion dedup, fully oracle-checked —
    the embedding analog of incremental_dedup_docs, via
    similarity.incremental_lsh_dedup: an arriving batch (here: +0.01
    perturbations of 50 corpus members, which MUST be rejected, plus
    50 genuinely new vectors, which must be admitted) is screened
    against the persisted corpus bucket index; bucket collisions are
    candidates only — an exact-cosine verify (>= 0.995) restores
    precision, so same-topic cluster-mates (cos ~0.84) are NOT
    dropped. The in-batch keeper rule is the deterministic one-pass
    over-drop documented on the MinHash variant.

    Scale: batch-side bucket rows equi-joined to the (t, bucket)
    index, cut first to the buckets the batch touches by a broadcast
    semi-join (the index side never shuffles); the verify fetches
    colliding corpus vectors by id. Never all-pairs."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(
        (F.col("vec_id") >= _IED_LO) & (F.col("vec_id") < _IED_HI)
    ).select("vec_id", "embedding")
    batch = (
        emb.filter(
            (F.col("vec_id") >= _IED_LO) & (F.col("vec_id") < _IED_LO + 50)
        )
        .select(
            (F.col("vec_id") + _COPY_OFFSET).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + F.lit(0.01).cast("float")
            ).alias("embedding"),
        )
        .unionByName(
            emb.filter(
                (F.col("vec_id") >= _IED_HI) & (F.col("vec_id") < _IED_FRESH)
            ).select("vec_id", "embedding")
        )
    )
    corpus_buckets = similarity.lsh_portable_buckets(
        corpus, dim=EMB_DIM, num_tables=_LSHP_T, bits=_LSHP_B
    )
    fresh, _fb, _fv = similarity.incremental_lsh_dedup(
        batch,
        corpus_buckets,
        corpus,
        dim=EMB_DIM,
        threshold=0.995,
        num_tables=_LSHP_T,
        bits=_LSHP_B,
    )
    return fresh.select(F.col("vec_id").cast("bigint").alias("vec_id"))


@query(
    "hard_negative_mining",
    oracle="""
    WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                        sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
                 FROM embeddings),
    q AS (SELECT * FROM emb WHERE vec_id < 10),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
      FROM q, emb c
      WHERE q.vec_id <> c.vec_id AND q.label <> c.label
    )
    SELECT query_id, neighbor_id,
           CAST(rank AS INT) AS rank,
           round(sim, 6) AS sim
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY round(sim, 9) DESC, neighbor_id) AS rank
      FROM sims
    ) WHERE rank <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor (vec_id < 10)
    the top-5 most-similar vectors with a DIFFERENT label — the
    near-miss negatives that make contrastive / embedding-model
    training batches informative (random negatives are trivially easy;
    hard ones carry the gradient signal).

    Same shape as `embedding_topk` (broadcast anchors x one corpus
    scan, per-anchor top-k window), with the label-mismatch filter
    BEFORE the window. At 100 TB the anchor set is whatever batch is
    being mined (bounded, broadcast); corpus-side work stays one scan.
    The LSH/IVF shortlist variants (`embedding_lsh_topk`,
    `embedding_ivf_topk`) are the drop-in shortlist path when the
    anchor set itself is large."""
    emb = widen_scan(load(spark, sf_dir, "embeddings"))
    anchors = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(
        emb, anchors, k=5, exclude_label_col="label"
    )


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH normed AS (
      SELECT source, {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))} AS ws
      FROM documents
    ),
    shingled AS (
      SELECT DISTINCT source,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM normed WHERE len(ws) >= 3
    ),
    sizes AS (SELECT source, count(*) AS sz FROM shingled GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM shingled a JOIN shingled b USING (shingle)
      WHERE a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(sa.sz AS BIGINT) AS n_shingles_a,
           CAST(sb.sz AS BIGINT) AS n_shingles_b,
           n_common,
           round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix: exact 3-gram shingle-set
    Jaccard between every source pair — the corpus-level diagnostic
    behind 'how much of source B is already in source A' decisions
    (dedup order, mixing weights, license triage). Doc-level dedup
    reports pairs; this reports the aggregate overlap structure.

    Scale shape mirrors event_association_rules: the shingle-keyed
    self-join's per-key fan-out is bounded by the SOURCE DOMAIN (a
    handful), not by corpus size — each distinct (source, shingle) row
    meets at most |sources| partners, so the join output is at most
    |sources| x the shingle table, and the matrix itself is
    |sources|^2 rows. One shuffle to distinct (source, shingle), one
    shingle-keyed join, broadcast size lookups."""
    docs = load(spark, sf_dir, "documents")
    # r14: sh feeds the size table AND both join sides — unpinned, the
    # corpus explode + distinct shuffle ran 3x per action (guide §3.3).
    sh = dedup_text._doc_shingles(docs, "source", "text", 3).distinct(
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy("did").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("did").alias("source_a"), "shingle")
    b = sh.select(F.col("did").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(
        sizes.select(F.col("did").alias("source_a"), F.col("sz").alias("n_shingles_a"))
    )
    sb = F.broadcast(
        sizes.select(F.col("did").alias("source_b"), F.col("sz").alias("n_shingles_b"))
    )
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a", "source_b", "n_shingles_a", "n_shingles_b", "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_shingles_a") + F.col("n_shingles_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "embedding_label_cohesion",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label, u.i AS dim,
             embedding[u.i + 1]::DOUBLE AS val
      FROM embeddings, unnest(range(len(embedding))) AS u(i)
    ),
    cent AS (
      SELECT label, dim, round(avg(val), 6) AS c
      FROM dims GROUP BY label, dim
    ),
    cnorm AS (
      SELECT label AS clabel, round(sqrt(sum(c * c)), 6) AS cn
      FROM cent GROUP BY label
    ),
    vnorm AS (
      SELECT vec_id, round(sqrt(sum(val * val)), 6) AS vn
      FROM dims GROUP BY vec_id
    ),
    dots AS (
      SELECT d.vec_id, d.label, ct.label AS clabel,
             round(sum(d.val * ct.c), 6) AS dot
      FROM dims d JOIN cent ct ON ct.dim = d.dim
      GROUP BY d.vec_id, d.label, ct.label
    ),
    sims AS (
      SELECT dots.vec_id, dots.label, dots.clabel,
             dot / (vn * cn) AS sim
      FROM dots
      JOIN vnorm USING (vec_id)
      JOIN cnorm USING (clabel)
    ),
    per_vec AS (
      SELECT vec_id, label,
             max(CASE WHEN clabel = label THEN sim END) AS own_sim,
             max(CASE WHEN clabel <> label THEN sim END) AS other_sim
      FROM sims GROUP BY vec_id, label
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(own_sim), 6) AS avg_own_sim,
           round(avg(other_sim), 6) AS avg_best_other_sim,
           round(avg(own_sim) - avg(other_sim), 6) AS margin,
           CAST(sum(CASE WHEN other_sim > own_sim THEN 1 ELSE 0 END)
                AS BIGINT) AS n_confusable
    FROM per_vec GROUP BY label
    """,
)
def embedding_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-space cohesion report — the label-noise /
    class-overlap diagnostic a curation pipeline runs before training
    a classifier on labeled vectors: each vector's cosine to its OWN
    label centroid vs its best OTHER-label centroid, aggregated per
    label (mean own, mean best-other, margin, and how many vectors
    sit closer to a foreign centroid — the mislabel suspects).

    Fully relational, no crossJoin anywhere: dims explode to
    (vec, dim, val); centroids are a (label, dim) aggregate — LABEL
    DOMAIN x 64 rows, broadcast onto the dim stream for one keyed
    dot-product aggregate per (vec, label) pair, fan-out bounded by
    the label domain exactly like source_overlap_matrix's source
    bound. Centroid components, norms, and dots are rounded before
    downstream algebra (rounded-sufficient-statistics rule), so both
    engines run identical scalar arithmetic."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "val"
        ),
    )
    cent = dims.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 6).alias("c")
    ).localCheckpoint(eager=False)
    # ^ r14: cent (label x dim — tiny) feeds its norm AND the
    # broadcast dot join; unpinned, each consumer re-exploded the
    # embedding table to rebuild it (5 explode passes -> 3; the
    # exploded stream itself stays unmaterialized). Guide §3.3; the
    # embedding_centroid_assign stance.
    cnorm = cent.groupBy(F.col("label").alias("clabel")).agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("cn")
    )
    vnorm = dims.groupBy("vec_id").agg(
        F.round(F.sqrt(F.sum(F.col("val") * F.col("val"))), 6).alias("vn")
    )
    dots = (
        dims.join(
            F.broadcast(
                cent.select(
                    F.col("label").alias("clabel"), "dim", "c"
                )
            ),
            "dim",
        )
        .groupBy("vec_id", "label", "clabel")
        .agg(F.round(F.sum(F.col("val") * F.col("c")), 6).alias("dot"))
    )
    sims = (
        dots.join(vnorm, "vec_id")
        .join(F.broadcast(cnorm), "clabel")
        .select(
            "vec_id",
            "label",
            "clabel",
            (F.col("dot") / (F.col("vn") * F.col("cn"))).alias("sim"),
        )
    )
    per_vec = sims.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("sim"))
        ).alias("own_sim"),
        F.max(
            F.when(F.col("clabel") != F.col("label"), F.col("sim"))
        ).alias("other_sim"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(F.avg("own_sim"), 6).alias("avg_own_sim"),
        F.round(F.avg("other_sim"), 6).alias("avg_best_other_sim"),
        F.round(F.avg("own_sim") - F.avg("other_sim"), 6).alias("margin"),
        F.sum(
            F.when(F.col("other_sim") > F.col("own_sim"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_confusable"),
    )


@query(
    "media_thumbnails",
    oracle=f"""
    WITH {_sql_thumb_cells("SELECT doc_id AS media_id, text FROM documents")}
    SELECT media_id,
           CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
           CAST(max(CASE WHEN c = 0 THEN cell END) AS INT) AS cell0,
           CAST(sum(cell) AS BIGINT) AS cell_sum
    FROM cells GROUP BY media_id
    """,
)
def media_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing through the driver contract: binary
    image column -> Arrow batches -> 4x4 byte-pooled thumbnail
    (deterministic fake kernel; real decode env-gated — see
    functions/multimodal.py:resize_image). The scalar projection
    (first cell + cell sum) is FULLY oracle-checked: the synthetic
    content is the UTF-8 bytes of `documents.text` (ASCII throughout
    the testdata, so DuckDB's ascii(substr(...)) reads the identical
    byte stream), and the fake kernel's zero-padded bucket means
    (float division then truncate) are replicated term-for-term —
    pinning the mapInPandas Arrow plumbing end-to-end, values
    included, not just row counts."""
    media = multimodal.synth_media_from_documents(
        load(spark, sf_dir, "documents"), kind="image"
    )
    th = multimodal.resize_image(media, width=4, height=4, fake=True)
    return th.select(
        "media_id",
        "width",
        "height",
        F.element_at("thumbnail", 1).alias("cell0"),
        F.aggregate(
            "thumbnail", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("cell_sum"),
    )


_SENT_POS = ("fast", "small")
_SENT_NEG = ("slow", "spill")


@query(
    "doc_lexicon_sentiment",
    oracle=f"""
    WITH normed AS (
      SELECT doc_id,
             CASE WHEN length({_SQL_NORM.format(t='text')}) = 0
                  THEN CAST([] AS VARCHAR[])
                  ELSE {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))}
             END AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(ws, x -> x IN {_SENT_POS})) AS BIGINT)
             AS n_pos,
           CAST(len(list_filter(ws, x -> x IN {_SENT_NEG})) AS BIGINT)
             AS n_neg,
           round((len(list_filter(ws, x -> x IN {_SENT_POS}))
                  - len(list_filter(ws, x -> x IN {_SENT_NEG})))
                 * 1.0 / len(ws), 6) AS polarity
    FROM normed WHERE len(ws) > 0
    """,
)
def doc_lexicon_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment/polarity scoring (SURVEY §2.11's
    'language/sentiment' text-analysis line): per-document positive
    and negative lexicon hit counts and the normalized polarity
    (pos - neg)/tokens. The lexicon here is a tiny domain-tuned
    demo pair (_SENT_POS/_SENT_NEG, words present in the synthetic
    vocabulary); in production it is a parameter — either inlined
    membership predicates like this (a few hundred words compile
    fine into the plan) or a broadcast lexicon table joined on the
    exploded token stream for large lexicons (the unigram_lm_quality
    shape). Pure Column expressions over one pruned scan — zero
    shuffles, no Python."""
    d = widen_scan(load(spark, sf_dir, "documents"))
    ws = tx.words(tx.normalized_text(F.col("text")))
    n_pos = F.size(F.filter(ws, lambda w: w.isin(*_SENT_POS)))
    n_neg = F.size(F.filter(ws, lambda w: w.isin(*_SENT_NEG)))
    n_tok = F.size(ws)
    return (
        d.select(
            "doc_id",
            n_tok.cast("bigint").alias("n_tokens"),
            n_pos.cast("bigint").alias("n_pos"),
            n_neg.cast("bigint").alias("n_neg"),
            F.round((n_pos - n_neg) / n_tok, 6).alias("polarity"),
        )
        .filter(F.col("n_tokens") > 0)
    )


_TEMP_ALPHA = 0.3  # temperature exponent (XLM-R uses alpha=0.3)


@query(
    "temperature_sampling_weights",
    oracle=f"""
    WITH by_lang AS (
      SELECT lang,
             CAST(sum(len(regexp_extract_all(text, '{_SQL_BPE_RE}')))
               AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    probs AS (
      SELECT lang, n_tokens,
             n_tokens * 1.0 / sum(n_tokens) OVER () AS p
      FROM by_lang
    )
    SELECT lang, n_tokens,
           round(p, 6) AS p_raw,
           round(pow(p, {_TEMP_ALPHA})
                 / sum(pow(p, {_TEMP_ALPHA})) OVER (), 6) AS weight,
           round(pow(p, {_TEMP_ALPHA})
                 / sum(pow(p, {_TEMP_ALPHA})) OVER () / p, 4)
             AS upsample_factor
    FROM probs
    """,
)
def temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual mixture weights (the p_i^alpha
    renormalization of Lample & Conneau 2019 / XLM-R, public method):
    token-mass shares per language are flattened with exponent
    alpha={_TEMP_ALPHA} so low-resource languages are upsampled
    relative to their raw share — the standard way a pretraining
    mixer sets per-language sampling rates in TOKENS (the budget that
    matters), not documents. Emits the raw share, the temperature
    weight, and the effective upsample factor per language; composes
    with `training_mixture` (which consumes per-bucket weights) and
    `tokenizer_fertility_by_lang` (which prices the budget).

    Scale: one map-side-combinable token-count aggregate keyed by
    language; the normalizing windows run over the language-bounded
    aggregate (a handful of rows), never the corpus. Float parity:
    both engines round the window-summed shares to 6 decimals (the
    repo-wide guard against summation-order ULP drift on tiny
    unordered double sums)."""
    d = load(spark, sf_dir, "documents")
    by_lang = d.groupBy("lang").agg(
        F.sum(tx.token_count_bpe(F.col("text"))).cast("long").alias("n_tokens")
    )
    w_all = Window.partitionBy()
    p = (F.col("n_tokens") * 1.0 / F.sum("n_tokens").over(w_all)).alias("p")
    probs = by_lang.select("lang", "n_tokens", p)
    pa = F.pow(F.col("p"), F.lit(_TEMP_ALPHA))
    z = F.sum(pa).over(w_all)
    return probs.select(
        "lang",
        "n_tokens",
        F.round("p", 6).alias("p_raw"),
        F.round(pa / z, 6).alias("weight"),
        F.round(pa / z / F.col("p"), 4).alias("upsample_factor"),
    )


@query(
    "containment_dup_pairs",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUP_CORPUS}),
    normed AS (
      SELECT doc_id, {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))} AS ws
      FROM corpus
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM normed WHERE len(ws) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shingled a JOIN shingled b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / sa.sz, 6) AS cont_a_in_b,
           round(n_common * 1.0 / sb.sz, 6) AS cont_b_in_a
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE greatest(n_common * 1.0 / sa.sz, n_common * 1.0 / sb.sz) >= 0.9
    """,
)
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment duplicate pairs (Broder 1997)
    over the truncated-copy corpus, threshold 0.9: every 80%%
    truncation is FULLY contained in its original (containment ~1.0),
    so this catches exactly the excerpt/quote regime where the pair's
    symmetric Jaccard (~0.8) falls below a 0.9 near-identity bar —
    the long-doc-quotes-short-doc leak symmetric dedup misses.

    Scale: identical shingle equi-join shape as `jaccard_near_dups`
    (never all-pairs) with the same hot-shingle cap available on the
    library function for the 100 TB path."""
    corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
    return dedup_text.containment_pairs(
        corpus, threshold=0.9, n=3,
        shingles=_near_dup_shingles(spark, sf_dir),
    )


@query(
    "source_concentration_hhi",
    oracle=f"""
    WITH cell AS (
      SELECT lang, source,
             CAST(sum(len(regexp_extract_all(text, '{_SQL_BPE_RE}')))
               AS BIGINT) AS tok
      FROM documents GROUP BY lang, source
    ),
    tot AS (
      SELECT lang, CAST(sum(tok) AS BIGINT) AS lang_tok,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM cell GROUP BY lang
    )
    SELECT c.lang, t.n_sources, t.lang_tok,
           round(sum(power(c.tok * 1.0 / t.lang_tok, 2)), 6) AS hhi,
           round(1.0 / sum(power(c.tok * 1.0 / t.lang_tok, 2)), 4)
             AS effective_sources
    FROM cell c JOIN tot t USING (lang)
    GROUP BY c.lang, t.n_sources, t.lang_tok
    """,
)
def source_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration audit per language: Herfindahl-Hirschman
    index over each source's token share, plus the effective number
    of sources (1/HHI, the "inverse Simpson" diversity) — the
    governance metric that flags a language whose token mass secretly
    comes from one crawl domain (a single-source language is a
    contamination/bias risk no per-document filter can see). Composes
    with `k_anonymity_report` (cell sizes) and `source_capped_docs`
    (the mitigation).

    Scale: one map-side-combinable (lang, source)-keyed token count,
    then algebra on the (langs x sources)-bounded cell table — corpus
    size enters only the first aggregate. Shares are squared/summed
    per lang over the bounded cell table (sum order guarded by the
    repo's round-6 stance on tiny float sums)."""
    d = load(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(
        F.sum(tx.token_count_bpe(F.col("text"))).cast("long").alias("tok")
    )
    tot = cell.groupBy("lang").agg(
        F.sum("tok").cast("long").alias("lang_tok"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    share_sq = F.pow(F.col("tok") * 1.0 / F.col("lang_tok"), 2)
    return (
        cell.join(F.broadcast(tot), "lang")
        .groupBy("lang", "n_sources", "lang_tok")
        .agg(
            F.round(F.sum(share_sq), 6).alias("hhi"),
            F.round(1.0 / F.sum(share_sq), 4).alias("effective_sources"),
        )
    )


_FRAME_STRIDE = 256


@query(
    "media_frame_sample",
    oracle=f"""
    WITH frames AS (
      SELECT media_id, frame_idx,
             substr(text, frame_idx * {_FRAME_STRIDE} + 1,
                    {_FRAME_STRIDE}) AS fr
      FROM (
        SELECT doc_id AS media_id, text,
               unnest(range(0, CAST(ceil(length(text) / {_FRAME_STRIDE}.0)
                                    AS BIGINT))) AS frame_idx
        FROM documents
      )
    )
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(fr) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(fr, 1, 1)) AS INT) AS first_byte,
           CAST(list_reduce(list_transform(range(1, len(fr) + 1),
                  j -> CAST(ascii(substr(fr, CAST(j AS INT), 1)) AS BIGINT)),
                (a, b) -> a + b) AS BIGINT) AS byte_sum
    FROM frames
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing through the driver contract —
    the last of the decode/resize/feature/frame-sample quartet to be
    query-exposed: binary content -> Arrow batches -> one row per
    sampled frame (a {_FRAME_STRIDE}-byte stride in the deterministic
    fake path; a real demuxer is env-gated in
    functions/multimodal.py:frame_sample). Each frame's byte scalars
    (length, first byte, byte sum) are FULLY oracle-checked: the
    synthetic content is the UTF-8 bytes of documents.text (ASCII
    testdata), so DuckDB replays the identical stride windows with
    substr/ascii — values, not just row counts, pin the mapInPandas
    frame fan-out.

    Scale: frames never leave executors (the scalar projection
    happens next to the kernel); one scan, Arrow-batched, output
    linear in total media bytes / stride."""
    from ..util import widen_scan

    media = widen_scan(
        multimodal.synth_media_from_documents(
            load(spark, sf_dir, "documents"), kind="video"
        )
    )
    frames = multimodal.frame_sample(media, every_n_bytes=_FRAME_STRIDE)
    fs = F.col("frame_bytes").cast("string")
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.length("frame_bytes").cast("long").alias("n_bytes"),
        F.ascii(F.substring(fs, 1, 1)).cast("int").alias("first_byte"),
        F.expr(
            "aggregate(sequence(1, length(cast(frame_bytes as string))), 0L, "
            "(a, i) -> a + cast(ascii(substring("
            "cast(frame_bytes as string), i, 1)) as bigint))"
        ).cast("long").alias("byte_sum"),
    )


# ---------------------------------------------------------------------------
# Round 9: Matryoshka truncation recall (embedding-dim ablation)
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32)
_MRL_K = 5
_MRL_ANCHORS = 20


def _mrl_variant_sql(m: int) -> str:
    if m == 0:
        qv, cv = "qv", "cv"
    else:
        qv, cv = f"qv[1:{m}]", f"cv[1:{m}]"
    return (
        f"SELECT query_id, neighbor_id, {m} AS m, "
        f"list_dot_product({qv}, {cv}) / "
        f"(sqrt(list_dot_product({qv}, {qv})) * "
        f"sqrt(list_dot_product({cv}, {cv}))) AS sim FROM pairs"
    )


@query(
    "matryoshka_recall_report",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM emb
          WHERE vec_id < {_MRL_ANCHORS}),
    pairs AS MATERIALIZED (
      SELECT q.query_id, c.vec_id AS neighbor_id, q.qv, c.v AS cv
      FROM q, emb c WHERE c.vec_id <> q.query_id
    ),
    sims AS ({" UNION ALL ".join(_mrl_variant_sql(m) for m in (0,) + _MRL_DIMS)}),
    ranked AS MATERIALIZED (
      SELECT query_id, neighbor_id, m,
             row_number() OVER (PARTITION BY query_id, m
                                ORDER BY round(sim, 9) DESC, neighbor_id)
               AS r
      FROM sims
    ),
    topk AS (SELECT query_id, neighbor_id, m FROM ranked WHERE r <= {_MRL_K}),
    fullk AS (SELECT query_id, neighbor_id FROM topk WHERE m = 0),
    fl AS (
      SELECT t.m, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN f.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM topk t LEFT JOIN fullk f
        ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
      WHERE t.m > 0 GROUP BY t.m
    )
    SELECT CAST(m AS INT) AS m_dims,
           CAST(n_rows / {_MRL_K} AS BIGINT) AS n_anchors,
           round(n_hits * 1.0 / n_rows, 6) AS mean_recall_at_5
    FROM fl
    """,
)
def matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dimension ablation: mean recall@{_MRL_K} of cosine
    top-k under PREFIX-TRUNCATED embeddings ({_MRL_DIMS} dims) against
    the full-dimension ranking — the decision table for
    Matryoshka-style dimension reduction (Kusupati et al. 2022 MRL,
    public method: nested prefixes trade dims for recall; a pipeline
    picks the cheapest prefix whose recall clears its bar).

    Anchors are the bounded vec_id < {_MRL_ANCHORS} sample (the
    embedding_topk stance: brute-force exact is the sf-bounded
    ORACLE-CHECKED baseline; at production scale the same report runs
    over the LSH/IVF candidate sets). Recall is an exact integer
    ratio — hit counts over {_MRL_K} x anchors — so no
    float-summation hazard; similarities themselves keep the
    term-identical fold/association shape of the ANN family, and
    ranks tie-break on round(sim, 9) then neighbor id.

    Scale: broadcast anchors x ONE corpus scan; all four variants'
    dot products ride the same pair row (inline-expanded), so the
    corpus is scanned and joined once, and the rank windows are keyed
    by (query, variant)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    # ONE squares array per row, bound with _let so the four prefix
    # norms read it once (the interpreted HOF path has no CSE — the
    # pre-r10 form re-sliced and re-squared `v` per prefix; the r10
    # probe flagged the per-pair cost). Prefix sums run left-to-right
    # over slices of the BOUND array, so each equals the oracle's
    # list_dot_product(v[1:m], v[1:m]) bit-for-bit.
    def norms(prefix: str) -> F.Column:
        def with_sq(sq):
            fields = [
                F.sqrt(
                    F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)
                ).alias(f"{prefix}n0")
            ]
            for m in _MRL_DIMS:
                fields.append(
                    F.sqrt(
                        F.aggregate(
                            F.slice(sq, 1, m), F.lit(0.0),
                            lambda a, x: a + x,
                        )
                    ).alias(f"{prefix}n{m}")
                )
            return F.struct(*fields)

        return tx._let(F.transform(F.col("v"), lambda x: x * x), with_sq)

    q = F.broadcast(
        emb.filter(F.col("vec_id") < _MRL_ANCHORS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            norms("q").alias("qn"),
        )
        .select("query_id", "qv", "qn.*")
    )
    # widen the corpus side: the heavy per-pair HOF projection is
    # pipelined ON TOP of the scan task(s), and driver testdata
    # parquet is single-row-group — without the fan-out the whole
    # anchors x corpus compute serializes on 1-2 cores (r10 A/B:
    # x10 5.7 s -> 1.5 s; broadcast of the anchor side is explicit,
    # so the widen cannot break an AQE runtime broadcast here)
    c = widen_scan(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        norms("c").alias("cn"),
    ).select("neighbor_id", "cv", "cn.*")
    pairs = q.join(c, F.col("query_id") != F.col("neighbor_id"))

    # likewise ONE products array per pair, shared by all four dots
    def with_prods(p):
        def d(m: int):
            if m == 0:
                return F.aggregate(p, F.lit(0.0), lambda a, x: a + x)
            return F.aggregate(
                F.slice(p, 1, m), F.lit(0.0), lambda a, x: a + x
            )

        return F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    (
                        d(m) / (F.col(f"qn{m}") * F.col(f"cn{m}"))
                    ).alias("sim"),
                )
                for m in (0,) + _MRL_DIMS
            ]
        )

    variants = tx._let(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        with_prods,
    )
    sims = pairs.select(
        "query_id", "neighbor_id", F.inline(variants)
    )
    w = Window.partitionBy("query_id", "m").orderBy(
        F.round(F.col("sim"), 9).desc(), "neighbor_id"
    )
    topk = (
        sims.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _MRL_K)
        .select("query_id", "neighbor_id", "m")
    )
    fullk = topk.filter(F.col("m") == 0).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    fl = (
        topk.filter(F.col("m") > 0)
        .join(fullk, ["query_id", "neighbor_id"], "left")
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
    )
    return fl.select(
        F.col("m").cast("int").alias("m_dims"),
        (F.col("n_rows") / _MRL_K).cast("long").alias("n_anchors"),
        F.round(F.col("n_hits") * 1.0 / F.col("n_rows"), 6).alias(
            "mean_recall_at_5"
        ),
    )


_TCLOSE_T = 0.2      # EMD threshold (Li et al.'s canonical example value)
_TCLOSE_BINS = 10    # ordinal sensitive-attribute buckets
_TCLOSE_W = 50.0     # bucket width over `value`


@query(
    "t_closeness_report",
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             strftime(ts, '%Y-%m-%d') AS event_date,
             least(greatest(CAST(floor(value / {_TCLOSE_W}) AS INT) + 1, 1),
                   {_TCLOSE_BINS}) AS b
      FROM events WHERE value IS NOT NULL
    ),
    g AS (SELECT b, CAST(count(*) AS BIGINT) AS gc FROM ev GROUP BY b),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),
    cls AS (
      SELECT event_type, event_date, CAST(count(*) AS BIGINT) AS nc
      FROM ev GROUP BY 1, 2
    ),
    cb AS (
      SELECT event_type, event_date, b, CAST(count(*) AS BIGINT) AS cc
      FROM ev GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT c.event_type, c.event_date, c.nc, bb.b,
             coalesce(cb.cc, 0) AS cc, coalesce(g.gc, 0) AS gc
      FROM cls c
      CROSS JOIN (SELECT unnest(range(1, {_TCLOSE_BINS} + 1)) AS b) bb
      LEFT JOIN cb ON cb.event_type = c.event_type
                  AND cb.event_date = c.event_date AND cb.b = bb.b
      LEFT JOIN g ON g.b = bb.b
    ),
    cum AS (
      SELECT event_type, event_date, nc, b,
             sum(cc * t.n - gc * nc) OVER (
               PARTITION BY event_type, event_date ORDER BY b) AS run,
             t.n
      FROM grid CROSS JOIN tot t
    )
    SELECT event_type, event_date,
           CAST(nc AS BIGINT) AS n_rows,
           round(CAST(sum(abs(run)) AS DOUBLE)
                 / (CAST(nc AS DOUBLE) * n * ({_TCLOSE_BINS} - 1)), 6)
             AS emd,
           CAST(CASE WHEN CAST(sum(abs(run)) AS DOUBLE)
                          / (CAST(nc AS DOUBLE) * n
                             * ({_TCLOSE_BINS} - 1)) > {_TCLOSE_T}
                     THEN 1 ELSE 0 END AS INT) AS t_violation
    FROM cum GROUP BY event_type, event_date, nc, n
    """,
)
def t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian ICDE 2007 — the
    strengthening of l-diversity, public method): a quasi-identifier
    class leaks even with many DISTINCT sensitive values if its
    sensitive DISTRIBUTION deviates from the table-wide one ("every
    event in this class is high-value"). Per class (event_type,
    event_date), the Earth Mover's Distance between the class's and
    the global ordinal value-bucket distributions — for ordered bins,
    EMD = sum over bins of |cumulative(p - q)| / (bins - 1). Flags
    classes with EMD > t={_TCLOSE_T}. Completes the release-gate
    privacy triad: `k_anonymity_report` (class size) ->
    `l_diversity_report` (distinct sensitive values) -> this
    (sensitive distribution).

    Float parity by INTEGER LATTICE: p_i - q_i = c_i/n_c - g_i/N =
    (c_i*N - g_i*n_c) / (n_c*N), so the running sums and their
    absolute values accumulate as EXACT BIGINTs; the single division
    by n_c*N*(bins-1) happens once per class at the end — no float
    summation anywhere.

    Scale: two keyed aggregates over one scan plus a classes x
    {_TCLOSE_BINS} grid (class-cardinality, zero-filled via a range
    cross join); windows run on that bounded grid."""
    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = F.least(
        F.greatest(
            F.floor(F.col("value") / _TCLOSE_W).cast("int") + 1, F.lit(1)
        ),
        F.lit(_TCLOSE_BINS),
    )
    ev = e.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        b.alias("b"),
    )
    # r14: g, tot, cls and cb each re-scanned events (4 passes per
    # action). All four are exact rollups of ONE pinned (class, bin)
    # count table: gc = sum of cc per bin, nc = sum per class, n = the
    # grand sum — identical integers (guide §2.3
    # aggregate-before-reuse, §3.3). One events pass.
    cb = ev.groupBy("event_type", "event_date", "b").agg(
        F.count(F.lit(1)).cast("long").alias("cc")
    ).localCheckpoint(eager=False)
    g = cb.groupBy("b").agg(F.sum("cc").cast("long").alias("gc"))
    tot = cb.agg(F.sum("cc").cast("long").alias("n"))
    cls = cb.groupBy("event_type", "event_date").agg(
        F.sum("cc").cast("long").alias("nc")
    )
    bins = ev.sparkSession.range(1, _TCLOSE_BINS + 1).select(
        F.col("id").cast("int").alias("b")
    )
    grid = (
        cls.crossJoin(F.broadcast(bins))
        .join(cb, ["event_type", "event_date", "b"], "left")
        .join(F.broadcast(g), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type", "event_date", "nc", "b", "n",
            F.coalesce(F.col("cc"), F.lit(0)).alias("cc"),
            F.coalesce(F.col("gc"), F.lit(0)).alias("gc"),
        )
    )
    wc = (
        Window.partitionBy("event_type", "event_date")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.withColumn(
        "run", F.sum(F.col("cc") * F.col("n") - F.col("gc") * F.col("nc")).over(wc)
    )
    emd = F.sum(F.abs(F.col("run"))).cast("double") / (
        F.col("nc").cast("double") * F.col("n") * (_TCLOSE_BINS - 1)
    )
    # the flag compares the UNROUNDED ratio on both engines (the
    # oracle's CASE does the same) — comparing a rounded value against
    # the threshold could disagree with the oracle at the boundary
    return cum.groupBy("event_type", "event_date", "nc", "n").agg(
        F.round(emd, 6).alias("emd"),
        (emd > _TCLOSE_T).cast("int").alias("t_violation"),
    ).select(
        "event_type",
        "event_date",
        F.col("nc").cast("long").alias("n_rows"),
        "emd",
        "t_violation",
    )


_DP_EPS = 1.0  # reference privacy budget for the noise-scale columns


@query(
    "dp_sensitivity_report",
    oracle=f"""
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(count(*) AS BIGINT) AS ur,
             CAST(sum(coalesce(CAST(round(value * 100, 0) AS BIGINT), 0))
               AS BIGINT) AS uc
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(sum(ur) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(max(ur) AS BIGINT) AS count_sensitivity,
           CAST(max(abs(uc)) AS BIGINT) AS sum_sensitivity_cents,
           round(CAST(max(ur) AS DOUBLE)
                 / ({_DP_EPS} * sum(ur)), 9) AS rel_count_noise,
           CASE WHEN sum(uc) = 0 THEN NULL
                ELSE round(CAST(max(abs(uc)) AS DOUBLE)
                           / ({_DP_EPS} * abs(sum(uc))), 9)
           END AS rel_sum_noise
    FROM per_user GROUP BY event_type
    """,
)
def dp_sensitivity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy sensitivity audit (Dwork et al. 2006 /
    Dwork & Roth 2014 'Algorithmic Foundations of DP', public method):
    for each per-event-type release of COUNT(*) and SUM(value), the
    USER-LEVEL L1 sensitivity — the largest change any single user's
    removal can cause — which is max rows-per-user for the count and
    max |per-user value total| for the sum. The Laplace mechanism
    calibrates noise scale b = sensitivity / epsilon, so the report
    also emits the noise-to-signal ratios at epsilon={_DP_EPS}
    (b_count / true_count, b_sum / |true_sum|): the budget-planning
    numbers a release gate reads to decide whether a statistic
    survives privatization. Extends the release-gate privacy family
    past auditing (`k_anonymity_report` -> `l_diversity_report` ->
    `t_closeness_report`) into MECHANISM CALIBRATION. Deterministic
    by construction — it reports the noise SCALE, it never samples
    noise.

    Float parity: value is fixed to integer cents before any
    aggregate (the attribution_linear stance), so every sensitivity
    and total is an exact BIGINT; the two ratios are single
    bigint/bigint double divisions rounded to 9dp.

    Scale: two map-side-combinable keyed aggregates over one scan —
    (event_type, user_id) then event_type; the max-over-users reduce
    is a partial aggregate, so no user-level rows ever shuffle to one
    place, and output is event-type-cardinality."""
    e = load(spark, sf_dir, "events")
    cents = F.coalesce(
        F.round(F.col("value") * 100, 0).cast("bigint"), F.lit(0)
    )
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("ur"),
        F.sum(cents).cast("long").alias("uc"),
    )
    rel_count = F.round(
        F.max("ur").cast("double") / (F.lit(_DP_EPS) * F.sum("ur")), 9
    )
    rel_sum = F.when(F.sum("uc") == 0, F.lit(None).cast("double")).otherwise(
        F.round(
            F.max(F.abs(F.col("uc"))).cast("double")
            / (F.lit(_DP_EPS) * F.abs(F.sum("uc"))),
            9,
        )
    )
    return per_user.groupBy("event_type").agg(
        F.sum("ur").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.max("ur").cast("long").alias("count_sensitivity"),
        F.max(F.abs(F.col("uc"))).cast("long").alias("sum_sensitivity_cents"),
        rel_count.alias("rel_count_noise"),
        rel_sum.alias("rel_sum_noise"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe out-of-fold target encoding (round 10)
# ---------------------------------------------------------------------------

_TE_FOLDS = 5
_TE_SMOOTH = 100  # smoothing pseudo-count (rows of prior)


@query(
    "target_encoding_oof",
    oracle=f"""
    WITH e AS (
      SELECT event_type,
             CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                  ::BIGINT % {_TE_FOLDS} AS INT) AS fold,
             CAST(round(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    cell AS (
      SELECT event_type, fold,
             CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
      FROM e GROUP BY 1, 2
    ),
    g AS (
      SELECT *,
             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_t,
             CAST(sum(s) OVER (PARTITION BY event_type) AS BIGINT) AS s_t,
             CAST(sum(n) OVER (PARTITION BY fold) AS BIGINT) AS n_f,
             CAST(sum(s) OVER (PARTITION BY fold) AS BIGINT) AS s_f,
             CAST(sum(n) OVER () AS BIGINT) AS n_g,
             CAST(sum(s) OVER () AS BIGINT) AS s_g
      FROM cell
    )
    SELECT event_type, fold,
           CAST(n_t - n AS BIGINT) AS n_oof,
           CASE WHEN n_t > n THEN
             round(CAST(s_t - s AS DOUBLE) / (100.0 * (n_t - n)), 6)
           END AS te_mean_value,
           CASE WHEN n_g > n_f THEN
             round((CAST(s_t - s AS DOUBLE)
                    + {_TE_SMOOTH}.0
                      * (CAST(s_g - s_f AS DOUBLE) / (n_g - n_f)))
                   / (100.0 * ((n_t - n) + {_TE_SMOOTH}.0)), 6)
           END AS te_mean_value_smoothed
    FROM g
    """,
)
def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe OUT-OF-FOLD target encoding (Micci-Barreca 2001
    smoothing, K-fold leave-out — the standard categorical feature
    for gradient-boosted / linear models): for category `event_type`
    and fold f (fold = portable id hash of the row id mod
    {_TE_FOLDS}), the encoded value is the target mean computed over
    every OTHER fold's rows of that category — a row never sees its
    own target, which is what separates this from plain (leaky)
    category means. The smoothed column shrinks small categories
    toward the GLOBAL out-of-fold mean with {_TE_SMOOTH} pseudo-rows
    (the prior itself excludes fold f, so smoothing re-introduces no
    leakage).

    Exactness: fold sums live on the integer cents lattice (BIGINT);
    every OOF statistic is a two-BIGINT difference; the only doubles
    are one division per output column with an identical expression
    tree in the oracle. NULL when a category exists in one fold only
    (no out-of-fold rows) — emitted, not dropped, so the feature
    builder sees the gap.

    Scale: ONE map-side-combinable (category, fold) aggregate over
    the fact scan; everything after runs on the categories x
    {_TE_FOLDS} cell table (windows over a bounded relation). The
    encode-apply step is a broadcast join of this output back onto
    the facts — never a second fact shuffle."""
    from ..util import portable_id_hash

    e = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    fold = F.pmod(
        portable_id_hash(F.col("event_id")), F.lit(_TE_FOLDS)
    ).cast("int")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    cell = (
        e.select(F.col("event_type"), fold.alias("fold"), cents.alias("c"))
        .groupBy("event_type", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
        )
    )
    wt = Window.partitionBy("event_type")
    wf = Window.partitionBy("fold")
    wg = Window.partitionBy()
    g = (
        cell.withColumn("n_t", F.sum("n").over(wt))
        .withColumn("s_t", F.sum("s").over(wt))
        .withColumn("n_f", F.sum("n").over(wf))
        .withColumn("s_f", F.sum("s").over(wf))
        .withColumn("n_g", F.sum("n").over(wg))
        .withColumn("s_g", F.sum("s").over(wg))
    )
    s_oof = (F.col("s_t") - F.col("s")).cast("double")
    n_oof = F.col("n_t") - F.col("n")
    prior = (F.col("s_g") - F.col("s_f")).cast("double") / (
        F.col("n_g") - F.col("n_f")
    )
    te = F.when(
        F.col("n_t") > F.col("n"),
        F.round(s_oof / (F.lit(100.0) * n_oof), 6),
    )
    te_sm = F.when(
        F.col("n_g") > F.col("n_f"),
        F.round(
            (s_oof + F.lit(float(_TE_SMOOTH)) * prior)
            / (F.lit(100.0) * (n_oof + F.lit(float(_TE_SMOOTH)))),
            6,
        ),
    )
    return g.select(
        "event_type",
        "fold",
        n_oof.cast("bigint").alias("n_oof"),
        te.alias("te_mean_value"),
        te_sm.alias("te_mean_value_smoothed"),
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding drift (round 10)
# ---------------------------------------------------------------------------

_EDRIFT_SMD = 0.1  # standard small-effect threshold (Cohen's d scale)


@query(
    "embedding_drift_report",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    rel AS (
      SELECT CAST(vec_id % 2 AS INT) AS grp,
             unnest(range(0, {EMB_DIM})) AS d, unnest(v) AS x
      FROM emb
    ),
    stats AS (
      SELECT d, grp, CAST(count(*) AS BIGINT) AS n,
             round(sum(x), 4) AS sx, round(sum(x * x), 4) AS sxx
      FROM rel GROUP BY d, grp
    ),
    wide AS (
      SELECT r.d,
             r.n AS n_ref, r.sx AS sx_r, r.sxx AS sxx_r,
             c.n AS n_cur, c.sx AS sx_c, c.sxx AS sxx_c
      FROM stats r JOIN stats c ON c.d = r.d
      WHERE r.grp = 0 AND c.grp = 1
    ),
    derived AS (
      SELECT d, n_ref, n_cur,
             sx_r / n_ref AS m_r, sx_c / n_cur AS m_c,
             (sxx_r - sx_r * sx_r / n_ref) / (n_ref - 1) AS v_r,
             (sxx_c - sx_c * sx_c / n_cur) / (n_cur - 1) AS v_c
      FROM wide
    ),
    scored AS (
      SELECT d, n_ref, n_cur, m_r, m_c,
             sqrt((v_r * (n_ref - 1) + v_c * (n_cur - 1))
                  / (n_ref + n_cur - 2)) AS pooled
      FROM derived
    )
    SELECT CAST(d AS INT) AS dim,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           round(m_r, 6) AS mean_ref,
           round(m_c, 6) AS mean_cur,
           CASE WHEN pooled > 1e-12
                THEN round(abs(m_r - m_c) / pooled, 6) END AS smd,
           CAST(CASE WHEN pooled > 1e-12
                          AND abs(m_r - m_c) / pooled > {_EDRIFT_SMD}
                     THEN 1 ELSE 0 END AS INT) AS drifted
    FROM scored
    """,
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DIMENSION embedding drift: standardized mean difference
    (Cohen's d scale, |SMD| > {_EDRIFT_SMD} = drifted) between a
    reference and a current embedding population, one row per
    dimension — the monitor a pipeline runs when the upstream encoder
    is retrained or an ingest mix shifts (value_drift_psi covers
    scalar features; embeddings drift per-DIMENSION, and a single
    global statistic hides which subspace moved). Populations here
    are the deterministic even/odd vec_id split (a self-calibration
    baseline: expected no-drift, so any flagged dim is a false-alarm
    probe — swap in yesterday's table for the real deployment).

    Float stance: the ab_covariate_balance pattern — ROUNDED
    sufficient statistics (count, round(sum x, 4), round(sum x^2, 4))
    then scalar algebra with identical expression trees, so both
    engines do bit-identical arithmetic on identical inputs; SMD is
    NULL when the pooled SD collapses (guard threshold identical in
    the oracle).

    Scale: one posexplode pass -> ONE map-side-combinable (dim, grp)
    aggregate (2 x {EMB_DIM} cells); everything downstream is
    algebra on the bounded cell table."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rel = emb.select(
        F.pmod(F.col("vec_id"), F.lit(2)).cast("int").alias("grp"),
        F.posexplode("v").alias("d", "x"),
    )
    stats = rel.groupBy("d", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("x"), 4).alias("sx"),
        F.round(F.sum(F.col("x") * F.col("x")), 4).alias("sxx"),
    )
    r = stats.filter(F.col("grp") == 0).select(
        "d",
        F.col("n").alias("n_ref"),
        F.col("sx").alias("sx_r"),
        F.col("sxx").alias("sxx_r"),
    )
    c = stats.filter(F.col("grp") == 1).select(
        "d",
        F.col("n").alias("n_cur"),
        F.col("sx").alias("sx_c"),
        F.col("sxx").alias("sxx_c"),
    )
    w = r.join(c, "d")
    m_r = F.col("sx_r") / F.col("n_ref")
    m_c = F.col("sx_c") / F.col("n_cur")
    v_r = (F.col("sxx_r") - F.col("sx_r") * F.col("sx_r") / F.col("n_ref")) / (
        F.col("n_ref") - 1
    )
    v_c = (F.col("sxx_c") - F.col("sx_c") * F.col("sx_c") / F.col("n_cur")) / (
        F.col("n_cur") - 1
    )
    pooled = F.sqrt(
        (v_r * (F.col("n_ref") - 1) + v_c * (F.col("n_cur") - 1))
        / (F.col("n_ref") + F.col("n_cur") - 2)
    )
    smd_raw = F.abs(m_r - m_c) / pooled
    return w.select(
        F.col("d").cast("int").alias("dim"),
        F.col("n_ref"),
        F.col("n_cur"),
        F.round(m_r, 6).alias("mean_ref"),
        F.round(m_c, 6).alias("mean_cur"),
        F.when(pooled > 1e-12, F.round(smd_raw, 6)).alias("smd"),
        F.when(pooled > 1e-12, (smd_raw > _EDRIFT_SMD).cast("int"))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix + per-class precision/recall/F1 (round 10)
# ---------------------------------------------------------------------------


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS lang_true, {_sql_lang_case()} AS lang_pred
      FROM documents
    ),
    cells AS (
      SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY lang_true, lang_pred
    ),
    tp AS (
      SELECT lang_true AS cls,
             CAST(sum(CASE WHEN lang_pred = lang_true THEN n ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(sum(n) AS BIGINT) AS support
      FROM cells GROUP BY lang_true
    ),
    pr AS (
      SELECT lang_pred AS cls, CAST(sum(n) AS BIGINT) AS n_pred
      FROM cells GROUP BY lang_pred
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang_pred = lang_true THEN n ELSE 0 END)
               AS BIGINT) AS n_correct
      FROM cells
    )
    SELECT t.cls AS lang, t.support, coalesce(p.n_pred, 0) AS n_pred,
           t.tp,
           round(t.tp * 1.0 / nullif(p.n_pred, 0), 6) AS precision,
           round(t.tp * 1.0 / t.support, 6) AS recall,
           round(2.0 * t.tp / nullif(coalesce(p.n_pred, 0) + t.support, 0),
                 6) AS f1,
           round(o.n_correct * 1.0 / o.n, 6) AS overall_accuracy
    FROM tp t LEFT JOIN pr p ON p.cls = t.cls CROSS JOIN tot o
    ORDER BY t.cls
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID EVALUATION against the corpus's lang label: per-
    class support / predicted count / true positives with precision,
    recall, and F1 (F1 in the count form 2*TP/(pred+support), exact
    integers), plus overall accuracy repeated per row — the
    multiclass-eval readout any classifier audit produces, here
    closing the loop on lang_id_distribution the way
    classifier_eval_report closes it for the hashed scorer. Like that
    query, the label is a substitution point: the synthetic corpus
    shares one vocabulary across langs, so ABSOLUTE accuracy is not
    the test — the machinery is.

    Determinism: everything is exact integer counts; ratios round at
    6dp. A class never predicted gets NULL precision (nullif), the
    standard sklearn zero-division posture.

    Scale: one scan -> bounded (true, pred) grid; all joins are over
    the language domain."""
    d = load(spark, sf_dir, "documents")
    cells = (
        d.select(
            F.col("lang").alias("lang_true"),
            tx.lang_id(F.col("text")).alias("lang_pred"),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # r14: cells feeds tp, pr and tot — unpinned, the doc scan +
        # lang_id expression ran 3x per action (guide §3.3).
        # Lang-domain bounded, one execution.
        .localCheckpoint(eager=False)
    )
    tp = cells.groupBy(F.col("lang_true").alias("cls")).agg(
        F.sum(
            F.when(F.col("lang_pred") == F.col("lang_true"), F.col("n"))
            .otherwise(0)
        )
        .cast("long")
        .alias("tp"),
        F.sum("n").cast("long").alias("support"),
    )
    pr = cells.groupBy(F.col("lang_pred").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    tot = cells.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum(
            F.when(F.col("lang_pred") == F.col("lang_true"), F.col("n"))
            .otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )
    return (
        tp.join(F.broadcast(pr), "cls", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("cls").alias("lang"),
            "support",
            F.coalesce(F.col("n_pred"), F.lit(0)).alias("n_pred"),
            "tp",
            F.round(
                F.col("tp") * 1.0 / F.nullif("n_pred", F.lit(0)), 6
            ).alias("precision"),
            F.round(F.col("tp") * 1.0 / F.col("support"), 6).alias("recall"),
            F.round(
                2.0
                * F.col("tp")
                / F.nullif(
                    F.coalesce(F.col("n_pred"), F.lit(0)) + F.col("support"),
                    F.lit(0),
                ),
                6,
            ).alias("f1"),
            F.round(
                F.col("n_correct") * 1.0 / F.col("n"), 6
            ).alias("overall_accuracy"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Dedup threshold sweep (round 11)
# ---------------------------------------------------------------------------

_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH corpus AS ({_SQL_NEAR_DUP_CORPUS}),
    normed AS (
      SELECT doc_id, {_SQL_WORDS.format(t=_SQL_NORM.format(t='text'))} AS ws
      FROM corpus
    ),
    shingled AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS shingle
      FROM normed WHERE len(ws) >= 3
    ),
    freq AS (SELECT shingle, count(*) AS df FROM shingled GROUP BY shingle),
    capped AS (
      SELECT s.doc_id, s.shingle
      FROM shingled s JOIN freq USING (shingle) WHERE df <= 4
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id),
    pairs AS (
      SELECT doc_a, doc_b,
             round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6)
               AS jaccard
      FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM capped a JOIN capped b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.5
    ),
    grid AS (SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}])
               AS thr)
    SELECT g.thr,
           CAST(count(p.doc_a) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT CASE WHEN p.jaccard >= g.thr
                 THEN p.doc_b END) AS BIGINT) AS n_removed_naive
    FROM grid g LEFT JOIN pairs p ON p.jaccard >= g.thr
    GROUP BY g.thr
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup THRESHOLD-TUNING readout: pair counts and the
    naive removal count (distinct higher-id members; the pairwise
    upper bound a transitive-closure pass would refine) at Jaccard
    cutoffs {_SWEEP_THRESHOLDS} — computed from ONE pass of the
    capped shingle self-join, so sweeping five thresholds costs one
    near-dup run plus a 5-row broadcast. This is how a pipeline picks
    its dedup aggressiveness before committing to a full run.

    Scale: identical candidate generation to the registered
    jaccard_near_dups primary (hot-shingle cap active); the sweep is
    an inner theta-join of the bounded pair table against the
    BROADCAST 5-row grid, then a left join back onto the grid so
    thresholds with zero pairs stay visible at n_pairs = 0."""
    corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
    pairs = dedup_text.jaccard_pairs(
        corpus, threshold=0.5, n=3, max_shingle_freq=4,
        shingles=_near_dup_shingles(spark, sf_dir),
    )
    grid = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "thr double"
    )
    # INNER theta-join against the broadcast grid: an inner
    # BroadcastNestedLoopJoin can build either side, so the hint on the
    # 5-row grid is honored. (The previous left-outer form put the hint
    # on the LEFT side, which a left-outer BNLJ cannot build — Spark
    # silently broadcast the data-dependent pairs table instead.) A
    # left join back onto the grid keeps zero-pair thresholds visible.
    matched = pairs.join(
        F.broadcast(grid), pairs["jaccard"] >= F.col("thr"), "inner"
    )
    agg = matched.groupBy("thr").agg(
        F.count("doc_a").cast("long").alias("n_pairs"),
        F.countDistinct("doc_b").cast("long").alias("n_removed_naive"),
    )
    return grid.join(F.broadcast(agg), "thr", "left").select(
        "thr",
        F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
        F.coalesce("n_removed_naive", F.lit(0).cast("long")).alias(
            "n_removed_naive"
        ),
    )


# ---------------------------------------------------------------------------
# LSH banding sweep (round 11)
# ---------------------------------------------------------------------------

_SWEEP_BANDINGS = ((2, 8), (4, 4), (8, 2), (16, 1))  # (bands, rows): b*r = 16


def _banding_sweep_oracle() -> str:
    cfg_blocks, selects = [], []
    for b, r in _SWEEP_BANDINGS:
        bands_sql = "\n      UNION ALL\n".join(
            "      SELECT doc_id, {band} AS band, {key} AS bk FROM sig".format(
                band=i,
                key=" || '-' || ".join(
                    f"CAST(m{i * r + j} AS VARCHAR)" for j in range(r)
                ),
            )
            for i in range(b)
        )
        capture = round(1 - (1 - 0.8**r) ** b, 6)
        cfg_blocks.append(f"""    banded0_{b} AS (
{bands_sql}
    ),
    bok_{b} AS (
      SELECT band, bk FROM banded0_{b}
      GROUP BY band, bk HAVING count(*) <= {_MH_CAP}
    ),
    banded_{b} AS (
      SELECT x.* FROM banded0_{b} x JOIN bok_{b} USING (band, bk)
    ),
    cand_{b} AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded_{b} a
      JOIN banded_{b} b ON a.band = b.band AND a.bk = b.bk
                        AND a.doc_id < b.doc_id
    )""")
        selects.append(
            f"""      SELECT {b} AS bands, {r} AS rows_per_band,
             (SELECT count(*) FROM truth) AS n_truth,
             (SELECT count(*) FROM cand_{b}) AS n_candidates,
             (SELECT count(*) FROM cand_{b} c
              JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
               AS n_overlap,
             {capture} AS capture_at_08"""
        )
    hashed_shingles = _SQL_HASHED_SHINGLES.replace(
        "shingled AS (", "shingled AS MATERIALIZED ("
    )
    cfg_sql = ",\n".join(cfg_blocks)
    stats_sql = "\n      UNION ALL\n".join(selects)
    return f"""
    WITH corpus AS ({_SQL_NEAR_DUP_CORPUS}),
    {hashed_shingles},
    sig AS MATERIALIZED (
      SELECT doc_id,
             {_SQL_MH_MINS}
      FROM hashed GROUP BY doc_id
    ),
    tfreq AS (SELECT shingle, count(*) AS df FROM shingled GROUP BY shingle),
    tcapped AS (
      SELECT s.doc_id, s.shingle
      FROM shingled s JOIN tfreq USING (shingle) WHERE df <= 4
    ),
    tsizes AS (SELECT doc_id, count(*) AS sz FROM tcapped GROUP BY doc_id),
    truth AS MATERIALIZED (
      SELECT doc_a, doc_b
      FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tcapped a JOIN tcapped b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      JOIN tsizes sa ON sa.doc_id = doc_a
      JOIN tsizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.sz + sb.sz - n_common) >= 0.5
    ),
{cfg_sql},
    stats AS (
{stats_sql}
    )
    SELECT bands, rows_per_band,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           round(CASE WHEN n_truth = 0 THEN 0.0
                 ELSE n_overlap * 1.0 / n_truth END, 6) AS pair_recall,
           round(CASE WHEN n_candidates = 0 THEN 0.0
                 ELSE n_overlap * 1.0 / n_candidates END, 6)
             AS pair_precision,
           capture_at_08
    FROM stats
    """


@query("lsh_banding_sweep", oracle=_banding_sweep_oracle())
def lsh_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH PARAMETER-TUNING readout: candidate recall/precision of
    MinHash banding at every (bands x rows) factorization of the
    16-permutation signature — (2x8) precision-biased through (16x1)
    recall-biased — against the capped exact-Jaccard >= 0.5 truth,
    plus the theoretical S-curve capture probability
    1-(1-j^r)^b at j=0.8 for calibration. ONE signature build serves
    all four configs (bands re-derive from the sig array), and every
    config runs under the same hot-bucket guard as the registered
    primary, so the sweep measures the configuration a pipeline would
    actually ship. Companion of dedup_threshold_sweep: that one tunes
    the verify threshold, this one tunes candidate generation.

    Scale: one shingle+signature pass; per config one banded
    self-equi-join (guard-capped, never all-pairs) and three counting
    joins on pair keys. Config count is a compile-time constant."""
    corpus = _near_dup_corpus(load(spark, sf_dir, "documents"))
    sh = _near_dup_shingles(spark, sf_dir)
    # r14: the sweep's consumers re-executed these shared subtrees —
    # truth 8x (a count + an overlap join per config), the signature
    # build 4x (one banded join per config) — because each consumer
    # re-derived them from the raw scan. Lazy localCheckpoints pin ONE
    # execution of each (guide §3.3: materialize shared intermediates;
    # the 453 KB / 396-Exchange plan collapses to a few KB, and at
    # scale 8 corpus passes become 1).
    truth = dedup_text.jaccard_pairs(
        corpus, threshold=0.5, n=3, max_shingle_freq=4, shingles=sh
    ).select("doc_a", "doc_b").localCheckpoint(eager=False)
    sigs = (
        dedup_text.minhash_portable_bands(corpus, num_bands=16, shingles=sh)
        .select("did", "sig")
        .dropDuplicates(["did"])
        .localCheckpoint(eager=False)
    )
    nt = truth.agg(F.count("*").alias("n_truth"))
    out = None
    for b, r in _SWEEP_BANDINGS:
        bands = F.array(
            *[
                F.struct(
                    F.lit(i).alias("band"),
                    F.concat_ws(
                        "-",
                        *[
                            F.element_at("sig", i * r + j + 1).cast("string")
                            for j in range(r)
                        ],
                    ).alias("bk"),
                )
                for i in range(b)
            ]
        )
        banded = dedup_text._cap_buckets(
            sigs.select("did", F.explode(bands).alias("x")).select(
                "did", F.col("x.band").alias("band"), F.col("x.bk").alias("bk")
            ),
            ["band", "bk"],
            _MH_CAP,
        ).localCheckpoint(eager=False)  # feeds BOTH join sides
        # one execution per config: the candidate table feeds both the
        # count and the overlap join below
        cand = dedup_text.band_pairs(banded, ["band", "bk"]).localCheckpoint(
            eager=False
        )
        nc = cand.agg(F.count("*").alias("n_candidates"))
        no = truth.join(cand, ["doc_a", "doc_b"]).agg(
            F.count("*").alias("n_overlap")
        )
        row = (
            nt.crossJoin(nc)
            .crossJoin(no)
            .select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                F.col("n_truth").cast("long").alias("n_truth"),
                F.col("n_candidates").cast("long").alias("n_candidates"),
                F.col("n_overlap").cast("long").alias("n_overlap"),
                F.round(
                    F.when(F.col("n_truth") == 0, F.lit(0.0)).otherwise(
                        F.col("n_overlap") * 1.0 / F.col("n_truth")
                    ),
                    6,
                ).alias("pair_recall"),
                F.round(
                    F.when(
                        F.col("n_candidates") == 0, F.lit(0.0)
                    ).otherwise(
                        F.col("n_overlap") * 1.0 / F.col("n_candidates")
                    ),
                    6,
                ).alias("pair_precision"),
                F.lit(round(1 - (1 - 0.8**r) ** b, 6)).alias(
                    "capture_at_08"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (r13 verdict #5)
# ---------------------------------------------------------------------------

_DOREMI_ITERS = 5


def _doremi_oracle() -> str:
    """Unrolled MW rounds over the source-bounded excess table,
    DECIMAL(18,9)-latticed at the identical spots as the driver loop
    (the markov_attribution exact-decimal stance): per-doc LM scores
    become exact micro-logprob BIGINTs, means/excesses are 9dp
    doubles from identical double arithmetic, per-round weights are
    9dp decimals whose sum is exact (order-free), and shares/updates
    are double ops both engines execute bit-identically."""
    ctes = [
        f"""{tx.SQL_UNIGRAM_SCORED_CTES},
    toksb AS (
      SELECT doc_id, {tx.SQL_WORDS.format(t='lower(text)')} AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    bgt AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS b,
             unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1
      FROM toksb WHERE len(ws) >= 2
    ),
    bc2 AS (SELECT b, count(*) AS cb FROM bgt GROUP BY b),
    uc2 AS (SELECT w1, count(*) AS cu FROM bgt GROUP BY w1),
    vocab2 AS (SELECT count(DISTINCT w1) AS v FROM bgt),
    b6 AS (
      SELECT g.doc_id,
             round(avg(ln((bc2.cb + 1.0) / (uc2.cu + v))), 6)
               AS avg_bigram_logprob
      FROM bgt g JOIN bc2 ON g.b = bc2.b JOIN uc2 ON g.w1 = uc2.w1, vocab2
      GROUP BY g.doc_id
    ),
    per AS MATERIALIZED (
      SELECT d.source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(u.avg_logprob * 1000000, 0) AS BIGINT))
                  AS BIGINT) AS su,
             CAST(sum(CAST(round(b6.avg_bigram_logprob * 1000000, 0)
                           AS BIGINT)) AS BIGINT) AS sb
      FROM documents d
      JOIN scored u ON u.doc_id = d.doc_id
      JOIN b6 ON b6.doc_id = d.doc_id
      GROUP BY d.source
    ),
    nk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM per),
    totdocs AS (SELECT CAST(sum(n) AS BIGINT) AS nd FROM per),
    ex AS MATERIALIZED (
      SELECT source, n,
             round(greatest(0.0,
               round(CAST(sb AS DOUBLE) / 1000000.0 / n, 9)
               - round(CAST(su AS DOUBLE) / 1000000.0 / n, 9)), 9)
               AS excess
      FROM per
    ),
    it0 AS MATERIALIZED (
      SELECT source, n, excess, 1.0 / (SELECT k FROM nk) AS a FROM ex
    )"""
    ]
    for t in range(_DOREMI_ITERS):
        ctes.append(f"""w{t} AS MATERIALIZED (
      SELECT source, n, excess,
             CAST(round(a * (1.0 + 0.1 * excess), 9) AS DECIMAL(18, 9))
               AS wgt
      FROM it{t}
    ),
    it{t + 1} AS MATERIALIZED (
      SELECT source, n, excess,
             round(0.99 * (CAST(wgt AS DOUBLE)
                           / (SELECT CAST(sum(wgt) AS DOUBLE) FROM w{t}))
                   + 0.01 * (1.0 / (SELECT k FROM nk)), 9) AS a
      FROM w{t}
    )""")
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain}
    SELECT source,
           n AS n_docs,
           round(excess, 6) AS excess_score,
           round(n * 1.0 / (SELECT nd FROM totdocs), 6) AS baseline_share,
           round(a, 6) AS weight,
           CAST(row_number() OVER (ORDER BY round(a, 6) DESC, source)
                AS INT) AS rank
    FROM it{_DOREMI_ITERS}
    """


@query("doremi_domain_weights", oracle=_doremi_oracle())
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, 'DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining' —
    public method) with the engine's self-trained LMs standing in for
    the proxy/reference pair: per source, EXCESS SCORE = clamped gap
    between the reference model's mean per-doc log-probability
    (add-one-smoothed bigram LM, the stronger model) and the proxy's
    (unigram LM) — domains where the stronger model recovers the most
    likelihood are exactly the reducible-loss domains DoReMi
    upweights. Then {_DOREMI_ITERS} multiplicative-weights rounds in
    the linear MW form (w <- a * (1 + eta * excess), eta = 0.1 — no
    libm exp, so every update is portable arithmetic), each round
    renormalized and smoothed with the uniform mixture
    (a <- 0.99 * share + 0.01 / K), DoReMi's uniform-smoothing step.
    Output: per-source excess, baseline corpus share, the reweighted
    mixture weight, and the rank a data team reads against
    baseline_share to see which domains the method up/downweights.

    Portability: per-doc scores enter as exact micro-logprob BIGINTs
    (6dp-rounded doubles x 1e6 are integer-valued), means/excesses
    are 9dp doubles from identical double arithmetic, per-round
    weights live on a DECIMAL(18,9) lattice so the normalizing sum is
    exact and order-free on both engines (the markov_attribution
    stance), and the MW recurrence runs driver-side in Decimal over
    the SOURCE-bounded table (collect guarded at 10k sources) — zero
    per-round job launches, matching the oracle's unrolled
    MATERIALIZED CTE rounds.

    Scale: the two LM scorings are the existing vocab-broadcast plans
    (corpus scanned twice, shuffles keyed on word/bigram/doc_id);
    everything after is a |sources|-row aggregate."""
    from decimal import Decimal

    d = load(spark, sf_dir, "documents")
    u = unigram_lm_quality(spark, sf_dir).select("doc_id", "avg_logprob")
    b = bigram_lm_quality(spark, sf_dir).select(
        "doc_id", "avg_bigram_logprob"
    )
    per = bounded_collect(
        d.select("doc_id", "source")
        .join(u, "doc_id")
        .join(b, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.round(F.col("avg_logprob") * 1000000, 0).cast("long")
            )
            .cast("long")
            .alias("su"),
            F.sum(
                F.round(F.col("avg_bigram_logprob") * 1000000, 0).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("sb"),
        ),
        DRIVER_SOLVE_LIMIT,
        "doremi_domain_weights: sources (bucket sources first)",
    )
    rows = sorted(per, key=lambda r: r.source)
    k = len(rows)
    inv_k = 1.0 / k
    nd = sum(r.n for r in rows)
    excess = {}
    for r in rows:
        mu = round_half_up(r.su / 1000000.0 / r.n, 9)
        mb = round_half_up(r.sb / 1000000.0 / r.n, 9)
        excess[r.source] = round_half_up(max(0.0, mb - mu), 9)
    a = {r.source: inv_k for r in rows}
    for _ in range(_DOREMI_ITERS):
        wgt = {
            s: Decimal(repr(round_half_up(a[s] * (1.0 + 0.1 * excess[s]), 9)))
            for s in a
        }
        tot = float(sum(wgt[s] for s in sorted(wgt)))
        a = {
            s: round_half_up(0.99 * (float(wgt[s]) / tot) + 0.01 * inv_k, 9)
            for s in a
        }
    out = [
        (
            r.source,
            r.n,
            round_half_up(excess[r.source], 6),
            round_half_up(r.n * 1.0 / nd, 6),
            round_half_up(a[r.source], 6),
        )
        for r in rows
    ]
    out.sort(key=lambda t: (-t[4], t[0]))
    return spark.createDataFrame(
        [(s, n, e, bs, w, i + 1) for i, (s, n, e, bs, w) in enumerate(out)],
        "source string, n_docs long, excess_score double, "
        "baseline_share double, weight double, rank int",
    )
