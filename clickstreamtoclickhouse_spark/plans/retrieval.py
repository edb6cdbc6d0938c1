"""Lexical retrieval + hybrid rank fusion, round 9: BM25 top-k and
reciprocal-rank-fusion search over the documents table.

The similarity family already covers the DENSE side of a retrieval
stack (brute-force / LSH / IVF / PQ cosine over embeddings, hashed
BoW as the text bridge). This module adds the LEXICAL side every
production retrieval pipeline pairs with it:

- BM25 scoring (Robertson & Sparck Jones probabilistic relevance /
  Robertson et al. TREC-3 Okapi, public method; k1 = 1.2, b = 0.75 —
  the Lucene/Elasticsearch defaults) as pure relational algebra:
  term frequencies, document lengths, and document frequencies are
  one explode + three map-side-combinable aggregates; scoring is an
  equi-join of the (tiny, broadcastable) query-term table against
  the per-(doc, term) tf table — the corpus is never self-joined and
  never shuffled on anything but its own keys.
- Reciprocal Rank Fusion (Cormack, Clarke & Buettcher SIGIR 2009,
  public method; k = 60): the standard zero-tuning way to combine a
  lexical and a semantic ranking — score(d) = sum over rankings of
  1 / (k + rank_r(d)). The semantic arm here is EXACT sparse TF
  cosine (integer dot products over the shared-term equi-join), so
  the fused ranking is float-hazard-free: every rank is an integer
  and 1/(60+rank) sums over at most two addends.

Float parity stance: per-(query, doc) BM25 term contributions are
rounded to 6dp and summed in DECIMAL(18,6) (exact, order-free — the
markov/seasonality pattern); tf / dl / df / N are exact BIGINTs, so
idf and the length normalizer are identical doubles on both engines.

Queries are the first three documents (doc_id < 3): their leading
five tokens form the lexical query, their full tf vector the
semantic query — deterministic, engine-portable, and self-excluded
from the candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as tx
from ..util import SessionDFCache
from .registry import load, query

_BM25_K1 = 1.2
_BM25_B = 0.75
_RRF_K = 60
_N_QUERY_DOCS = 3
_N_QUERY_TERMS = 5
_LEX_TOPK = 10
_SEM_TOPK = 10
_RRF_TOPK = 5

_SQL_LWORDS = tx.SQL_WORDS.format(t="lower(text)")

# Shared oracle CTEs: corpus statistics + the two per-query rankings.
_SQL_RETRIEVAL_CTES = f"""toks AS (
      SELECT doc_id, unnest({_SQL_LWORDS}) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, w
    ),
    dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl
      FROM dl
    ),
    df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
    qdocs AS (
      SELECT doc_id AS query_id, {_SQL_LWORDS} AS ws
      FROM documents
      WHERE doc_id < {_N_QUERY_DOCS} AND length(trim(text)) > 0
    ),
    qterms AS (
      SELECT DISTINCT query_id, unnest(ws[1:{_N_QUERY_TERMS}]) AS w
      FROM qdocs
    ),
    contrib AS (
      SELECT q.query_id, t.doc_id,
             CAST(round(
               ln(CAST(1 AS DOUBLE)
                  + (s.n - d.df + CAST(0.5 AS DOUBLE))
                    / (d.df + CAST(0.5 AS DOUBLE)))
               * (t.tf * (CAST({_BM25_K1} AS DOUBLE) + 1))
                 / (t.tf + CAST({_BM25_K1} AS DOUBLE)
                    * (1 - CAST({_BM25_B} AS DOUBLE)
                       + CAST({_BM25_B} AS DOUBLE) * l.dl
                         / (CAST(s.sdl AS DOUBLE) / s.n))),
               6) AS DECIMAL(18, 6)) AS c
      FROM qterms q
      JOIN tf t USING (w)
      JOIN df d USING (w)
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
      WHERE t.doc_id <> q.query_id
    ),
    lexscore AS (
      SELECT query_id, doc_id, sum(c) AS score
      FROM contrib GROUP BY query_id, doc_id
    ),
    lexrank AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS r
      FROM lexscore
    ),
    qtf AS (
      SELECT q.query_id, t.w, t.tf
      FROM (SELECT DISTINCT query_id FROM qterms) q
      JOIN tf t ON t.doc_id = q.query_id
    ),
    qnorm AS (
      SELECT query_id, sqrt(CAST(sum(tf * tf) AS DOUBLE)) AS nq
      FROM qtf GROUP BY query_id
    ),
    dnorm AS (
      SELECT doc_id, sqrt(CAST(sum(tf * tf) AS DOUBLE)) AS nd
      FROM tf GROUP BY doc_id
    ),
    dots AS (
      SELECT q.query_id, t.doc_id, CAST(sum(q.tf * t.tf) AS BIGINT) AS dp
      FROM qtf q JOIN tf t USING (w)
      WHERE t.doc_id <> q.query_id
      GROUP BY q.query_id, t.doc_id
    ),
    semrank AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(dp / (qn.nq * dn.nd), 9) DESC, doc_id) AS r,
             round(dp / (qn.nq * dn.nd), 6) AS sim
      FROM dots
      JOIN qnorm qn USING (query_id)
      JOIN dnorm dn USING (doc_id)
    )"""


@query(
    "bm25_topk_docs",
    oracle=f"""
    WITH {_SQL_RETRIEVAL_CTES}
    SELECT query_id, doc_id, CAST(r AS INT) AS rank,
           round(CAST(score AS DOUBLE), 6) AS score
    FROM lexrank WHERE r <= {_LEX_TOPK}
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{_LEX_TOPK} per query (queries = the first
    {_N_QUERY_DOCS} docs' leading {_N_QUERY_TERMS} tokens). See the
    module docstring for the method and parity stance.

    Scale: corpus statistics are three keyed aggregates over one
    token explode; the query-term table is O(queries x terms) and
    broadcasts into the tf equi-join, so scoring touches only
    postings of query terms (the inverted-index access pattern,
    expressed relationally); ranking is a per-query window over the
    matched candidates, never the corpus."""
    lex, _ = _retrieval_rankings(spark, sf_dir)
    return lex.filter(F.col("r") <= _LEX_TOPK).select(
        "query_id",
        "doc_id",
        F.col("r").cast("int").alias("rank"),
        F.round(F.col("score").cast("double"), 6).alias("score"),
    )


# The per-(doc, term) tf table is the corpus-scale base every
# retrieval query (bm25 / hybrid / snippets / eval / prf) rebuilds:
# one token explode + one keyed count over the whole documents table.
# Cached per (applicationId, sf_dir) behind a LAZY localCheckpoint —
# util.SessionDFCache — so a session running the family pays for the
# explode-aggregate once; assumes the input dir is immutable for the app's lifetime (the same
# contract registry.load testdata already has).
_TF_CACHE = SessionDFCache("corpus_tf")
_TF_CACHE_ENABLED = True


def _corpus_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        d = load(spark, sf_dir, "documents").filter(
            F.length(F.trim(F.col("text"))) > 0
        )
        toks = d.select(
            "doc_id", F.explode(tx.words(F.lower(F.col("text")))).alias("w")
        )
        return toks.groupBy("doc_id", "w").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )

    if not _TF_CACHE_ENABLED:
        return build()
    return _TF_CACHE.get_or_build(spark, sf_dir, build)


def _tf_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """(documents, per-(doc,term) tf, doc lengths, query docs, query
    terms) — the corpus-statistics base of _SQL_RETRIEVAL_CTES,
    shared by the rankings builder and prf_query_expansion."""
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tf = _corpus_tf(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    qdocs = d.filter(F.col("doc_id") < _N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_id"),
        tx.words(F.lower(F.col("text"))).alias("ws"),
    )
    qterms = (
        qdocs.select(
            "query_id",
            F.explode(F.slice("ws", 1, _N_QUERY_TERMS)).alias("w"),
        )
        .distinct()
    )
    return d, tf, dl, qdocs, qterms


_RANKINGS_CACHE = SessionDFCache("retrieval_rankings")


def _retrieval_rankings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(lexical BM25 ranking, semantic TF-cosine ranking) — the Spark
    twin of _SQL_RETRIEVAL_CTES, shared by bm25_topk_docs and
    hybrid_search_rrf so the two registered queries cannot drift.

    r14: the PAIR is session-cached (one tuple entry, so both tables
    live and die together) on top of the tf cache: five
    registered queries (bm25_topk_docs, hybrid_search_rrf{,_exact},
    search_snippets, retrieval_eval_report, prf via lexrank) each
    re-ran the BM25 scoring joins and both rank windows from the tf
    checkpoint; now the first consumer materializes each rank table
    once and the rest read it."""
    return _RANKINGS_CACHE.get_or_build(
        spark, sf_dir, lambda: _build_rankings(spark, sf_dir)
    )


def _build_rankings(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    d, tf, dl, qdocs, qterms = _tf_tables(spark, sf_dir)
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("sdl"),
    )
    dfreq = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    k1 = F.lit(float(_BM25_K1))
    b = F.lit(float(_BM25_B))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfpart = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1
        * (
            F.lit(1.0)
            - b
            + b * F.col("dl") / (F.col("sdl").cast("double") / F.col("n"))
        )
    )
    contrib = (
        F.broadcast(qterms)
        .join(tf, "w")
        .join(dfreq, "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.round(idf * tfpart, 6).cast("decimal(18,6)").alias("c"),
        )
    )
    lexscore = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("c").alias("score")
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "doc_id"
    )
    lexrank = lexscore.withColumn("r", F.row_number().over(wl))

    qtf = (
        qdocs.select("query_id")
        .join(tf, tf.doc_id == F.col("query_id"))
        .select("query_id", "w", "tf")
    )
    qnorm = qtf.groupBy("query_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nq")
    )
    dnorm = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nd")
    )
    dots = (
        F.broadcast(qtf.select("query_id", "w", F.col("tf").alias("qtf")))
        .join(tf, "w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qtf") * F.col("tf")).cast("long").alias("dp"))
    )
    sim = F.col("dp") / (F.col("nq") * F.col("nd"))
    ws = Window.partitionBy("query_id").orderBy(
        F.round(sim, 9).desc(), "doc_id"
    )
    semrank = (
        dots.join(F.broadcast(qnorm), "query_id")
        .join(dnorm, "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.round(sim, 6).alias("sim"),
            F.row_number().over(ws).alias("r"),
        )
    )
    return lexrank, semrank


# Bucketed dense arm (the r10 scale-path primary): hashed-BoW tf-idf
# projections through portable hyperplane LSH — candidate generation
# by (table, bucket) equi-join, exact TF-cosine re-rank on candidates
# ONLY. The exact arm scores every doc sharing ANY term with the
# query doc (stopwords make that ~the whole corpus); the bucketed arm
# touches only bucket-colliding docs' postings.
_HB_DIMS = 64    # hashing-trick BoW dimensions (md5(w) % dims)
_HB_TABLES = 10  # OR across tables (recall)
_HB_BITS = 8     # AND within a table (precision / candidate volume)
# Tuned on the r10 sweep (BENCH_NOTES_r10.md): this synthetic corpus
# is LSH's worst case (500 docs, template vocabulary, TF-cosine
# neighbor margin ~0.1), giving recall@10 = 0.83 vs the exact arm at
# ~45% candidate fraction. On a real corpus the vocabulary diversity
# widens the margin and the fraction drops; BITS is the documented
# scale lever (candidates ~ n / 2^bits per table).

_SQL_BUCKETED_SEM_CTES = f"""posting AS (
      SELECT t.doc_id,
             CAST(('0x' || substr(md5(t.w), 1, 4))::BIGINT % {_HB_DIMS}
                  AS INT) AS d,
             t.tf * ln(CAST(1 AS DOUBLE) + CAST(s.n AS DOUBLE) / d2.df) AS x
      FROM tf t JOIN df d2 USING (w) CROSS JOIN stats s
    ),
    hplanes AS (
      SELECT t, b, d,
             ('0x' || substr(md5('pl:' || t || ':' || b || ':' || d), 1, 8))
               ::BIGINT / 2147483648.0 - 1.0 AS p
      FROM range({_HB_TABLES}) r1(t), range({_HB_BITS}) r2(b),
           range({_HB_DIMS}) r3(d)
    ),
    hproj AS (
      SELECT doc_id, t, b, round(sum(x * p), 6) AS s
      FROM posting JOIN hplanes USING (d) GROUP BY 1, 2, 3
    ),
    hbkt AS (
      SELECT doc_id, t,
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM hproj GROUP BY 1, 2
    ),
    hcand AS (
      SELECT DISTINCT q.doc_id AS query_id, c.doc_id AS doc_id
      FROM hbkt q JOIN hbkt c ON q.t = c.t AND q.bucket = c.bucket
      WHERE q.doc_id < {_N_QUERY_DOCS} AND q.doc_id <> c.doc_id
    ),
    bdots AS (
      SELECT q.query_id, t.doc_id, CAST(sum(q.tf * t.tf) AS BIGINT) AS dp
      FROM qtf q JOIN tf t USING (w)
      JOIN hcand h ON h.query_id = q.query_id AND h.doc_id = t.doc_id
      GROUP BY 1, 2
    ),
    bsem AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(dp / (qn.nq * dn.nd), 9) DESC, doc_id) AS r
      FROM bdots
      JOIN qnorm qn USING (query_id)
      JOIN dnorm dn USING (doc_id)
    )"""

_SQL_RRF_FUSE = f"""fused AS (
      SELECT coalesce(l.query_id, s.query_id) AS query_id,
             coalesce(l.doc_id, s.doc_id) AS doc_id,
             round(coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + l.r), 0)
                   + coalesce(CAST(1 AS DOUBLE) / ({_RRF_K} + s.r), 0), 6)
               AS rrf_score,
             CAST(l.r AS INT) AS lex_rank,
             CAST(s.r AS INT) AS sem_rank
      FROM lex l
      FULL OUTER JOIN sem s
        ON s.query_id = l.query_id AND s.doc_id = l.doc_id
    )
    SELECT query_id, doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id) AS INT)
             AS rrf_rank,
           rrf_score, lex_rank, sem_rank
    FROM fused
    QUALIFY rrf_rank <= {_RRF_TOPK}"""


# The doc bucket index depends only on the corpus — in a deployment
# it is built once and queries stream against it (the persisted
# band-index stance), so it rides a SessionDFCache like the tf table it derives
# from; the bench then measures the amortized per-query cost, which
# is the number the primary-swap scale story is about.
_HB_INDEX_CACHE = SessionDFCache("hashed_bow_index")


def _hashed_bow_bucket_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t, bucket) portable-LSH index over tf-idf-weighted
    hashed-BoW projections. The projection is ONE sum over posting
    rows (no dense-vector intermediate), rounded at 6 dp before the
    sign test — the lsh_portable_buckets float stance."""
    from ..functions import similarity

    def build() -> DataFrame:
        d, tf, dl, qdocs, qterms = _tf_tables(spark, sf_dir)
        dfreq = tf.groupBy("w").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        nstats = dl.agg(F.count(F.lit(1)).cast("long").alias("n"))
        dim = (
            F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("long")
            % _HB_DIMS
        ).cast("int")
        posting = (
            tf.join(dfreq, "w")
            .crossJoin(F.broadcast(nstats))
            .select(
                "doc_id",
                dim.alias("d"),
                (
                    F.col("tf")
                    * F.log(
                        F.lit(1.0)
                        + F.col("n").cast("double") / F.col("df")
                    )
                ).alias("x"),
            )
        )
        planes = similarity.portable_planes(
            spark, _HB_DIMS, _HB_TABLES, _HB_BITS
        )
        proj = (
            posting.join(F.broadcast(planes), "d")
            .groupBy("doc_id", "t", "b")
            .agg(F.round(F.sum(F.col("x") * F.col("p")), 6).alias("s"))
        )
        return proj.groupBy("doc_id", "t").agg(
            F.sum(
                F.when(
                    F.col("s") > 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("bucket")
        )

    return _HB_INDEX_CACHE.get_or_build(spark, sf_dir, build)


def _bucketed_sem_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path semantic ranking: candidates share any (table,
    bucket) cell with a query doc in the session-cached hashed-BoW
    LSH index; exact integer TF-cosine re-ranks ONLY candidate
    postings."""
    d, tf, dl, qdocs, qterms = _tf_tables(spark, sf_dir)
    buckets = _hashed_bow_bucket_index(spark, sf_dir)
    qb = buckets.filter(F.col("doc_id") < _N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_id"), "t", "bucket"
    )
    cand = (
        F.broadcast(qb)
        .join(buckets, ["t", "bucket"])
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", "doc_id")
        .dropDuplicates(["query_id", "doc_id"])
    )
    qtf = (
        qdocs.select("query_id")
        .join(tf, tf.doc_id == F.col("query_id"))
        .select("query_id", "w", F.col("tf").alias("qtf"))
    )
    # postings of CANDIDATE docs only — the re-rank never touches the
    # rest of the corpus (vs the exact arm's every-shared-term scan)
    cand_tf = cand.join(tf, "doc_id")
    dots = (
        cand_tf.join(F.broadcast(qtf), ["query_id", "w"])
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qtf") * F.col("tf")).cast("long").alias("dp"))
    )
    qnorm = (
        qtf.groupBy("query_id")
        .agg(
            F.sqrt(F.sum(F.col("qtf") * F.col("qtf")).cast("double")).alias(
                "nq"
            )
        )
    )
    dnorm = tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nd")
    )
    sim = F.col("dp") / (F.col("nq") * F.col("nd"))
    ws = Window.partitionBy("query_id").orderBy(
        F.round(sim, 9).desc(), "doc_id"
    )
    return (
        dots.join(F.broadcast(qnorm), "query_id")
        .join(dnorm, "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.round(sim, 6).alias("sim"),
            F.row_number().over(ws).alias("r"),
        )
    )


def _rrf_fuse(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """RRF fusion + fused top-k (shared by the bucketed primary and
    the exact baseline so the two registrations cannot drift)."""
    l = lex.filter(F.col("r") <= _LEX_TOPK).select(
        "query_id", "doc_id", F.col("r").alias("lr")
    )
    s = sem.filter(F.col("r") <= _SEM_TOPK).select(
        "query_id", "doc_id", F.col("r").alias("sr")
    )
    fused = l.join(s, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.round(
            F.coalesce(F.lit(1.0) / (_RRF_K + F.col("lr")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (_RRF_K + F.col("sr")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        F.col("lr").cast("int").alias("lex_rank"),
        F.col("sr").cast("int").alias("sem_rank"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), "doc_id"
    )
    return (
        fused.withColumn("rrf_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rrf_rank") <= _RRF_TOPK)
        .select(
            "query_id", "doc_id", "rrf_rank", "rrf_score",
            "lex_rank", "sem_rank",
        )
    )


@query(
    "hybrid_search_rrf",
    oracle=f"""
    WITH {_SQL_RETRIEVAL_CTES},
    {_SQL_BUCKETED_SEM_CTES},
    lex AS (SELECT query_id, doc_id, r FROM lexrank WHERE r <= {_LEX_TOPK}),
    sem AS (SELECT query_id, doc_id, r FROM bsem WHERE r <= {_SEM_TOPK}),
    {_SQL_RRF_FUSE}
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: Reciprocal Rank Fusion (k={_RRF_K}) of the BM25
    lexical top-{_LEX_TOPK} and the BUCKETED semantic top-{_SEM_TOPK}
    (hashed-BoW tf-idf vectors through portable hyperplane LSH,
    exact TF-cosine re-rank on bucket-colliding candidates only —
    `_bucketed_sem_rank`), emitting the fused top-{_RRF_TOPK} per
    query with both source ranks for auditability.

    r10 primary swap (the r8 user_activity_similarity pattern): the
    old dense arm scored every document sharing ANY term with the
    query doc — with stopwords, effectively the whole corpus per
    query. This primary generates candidates by a (table, bucket)
    equi-join against the LSH index (corpus bucketed once, query side
    broadcast) and re-ranks only candidate postings; the full-scan
    form remains registered as `hybrid_search_rrf_exact`, the
    sf-bounded recall baseline (tests pin bucketed-vs-exact recall).
    Every bucketing constant is replicated in the oracle."""
    lex, _ = _retrieval_rankings(spark, sf_dir)
    sem = _bucketed_sem_rank(spark, sf_dir)
    return _rrf_fuse(lex, sem)


@query(
    "hybrid_search_rrf_exact",
    oracle=f"""
    WITH {_SQL_RETRIEVAL_CTES},
    lex AS (SELECT query_id, doc_id, r FROM lexrank WHERE r <= {_LEX_TOPK}),
    sem AS (SELECT query_id, doc_id, r FROM semrank WHERE r <= {_SEM_TOPK}),
    {_SQL_RRF_FUSE}
    """,
)
def hybrid_search_rrf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT-dense-arm hybrid baseline (the pre-r10 primary):
    semantic top-{_SEM_TOPK} by exact sparse TF-cosine over every doc
    sharing a term with the query doc. Kept registered as the
    sf-bounded recall/quality baseline for `hybrid_search_rrf`'s
    bucketed arm — the `user_activity_similarity_uncapped` stance:
    correct at any scale, affordable only at benchmark scale."""
    lex, sem = _retrieval_rankings(spark, sf_dir)
    return _rrf_fuse(lex, sem)


_SNIP_LEN = 16  # snippet window, tokens
_SNIP_DOCS = 3  # snippet the lexical top-3 per query


@query(
    "search_snippets",
    oracle=f"""
    WITH {_SQL_RETRIEVAL_CTES},
    top3 AS (
      SELECT query_id, doc_id, r FROM lexrank WHERE r <= {_SNIP_DOCS}
    ),
    dwords AS (
      SELECT doc_id, {_SQL_LWORDS} AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    pos AS (
      SELECT t.query_id, t.r, d.doc_id, d.ws,
             unnest(range(1, len(d.ws) + 1)) AS p
      FROM top3 t JOIN dwords d USING (doc_id)
    ),
    hits AS (
      SELECT pos.query_id, pos.r, pos.doc_id, pos.ws, pos.p
      FROM pos JOIN qterms q
        ON q.query_id = pos.query_id AND q.w = pos.ws[CAST(p AS BIGINT)]
    ),
    winned AS (
      SELECT query_id, r, doc_id, ws, p,
             CAST(count(*) OVER (
               PARTITION BY query_id, doc_id ORDER BY p
               RANGE BETWEEN CURRENT ROW AND {_SNIP_LEN - 1} FOLLOWING
             ) AS BIGINT) AS n_hits
      FROM hits
    ),
    best AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id, doc_id
               ORDER BY n_hits DESC, p) AS b
      FROM winned
    )
    SELECT query_id, doc_id, CAST(r AS INT) AS rank,
           CAST(p AS BIGINT) AS snippet_start, n_hits,
           array_to_string(
             ws[CAST(p AS BIGINT) : CAST(p + {_SNIP_LEN - 1} AS BIGINT)],
             ' ') AS snippet_text
    FROM best WHERE b = 1
    """,
)
def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result snippets: for each query's lexical top-{_SNIP_DOCS}
    documents, the {_SNIP_LEN}-token window containing the MOST query
    -term occurrences (earliest window on ties) — the highlight/
    keyword-in-context step every search UI runs after ranking.

    Relational shape: the candidate set is queries x {_SNIP_DOCS}
    docs (top-k output, tiny), so the positional token explode and
    the query-term match run over a BOUNDED relation, never the
    corpus; the best window is a RANGE frame over match POSITIONS
    (count of hits in [p, p+{_SNIP_LEN - 1}]) + an argmax window —
    both keyed by (query, doc). No corpus-wide work beyond the
    rankings it reuses from `_retrieval_rankings`."""
    lex, _ = _retrieval_rankings(spark, sf_dir)
    top3 = lex.filter(F.col("r") <= _SNIP_DOCS).select(
        "query_id", "doc_id", "r"
    )
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    dwords = d.select(
        "doc_id", tx.words(F.lower(F.col("text"))).alias("ws")
    )
    pos = (
        top3.join(dwords, "doc_id")
        .select(
            "query_id", "r", "doc_id", "ws",
            F.posexplode("ws").alias("p0", "w"),
        )
        .select(
            "query_id", "r", "doc_id", "ws",
            (F.col("p0") + 1).alias("p"), "w",
        )
    )
    qdocs = d.filter(F.col("doc_id") < _N_QUERY_DOCS).select(
        F.col("doc_id").alias("query_id"),
        tx.words(F.lower(F.col("text"))).alias("qws"),
    )
    qterms = (
        qdocs.select(
            "query_id",
            F.explode(F.slice("qws", 1, _N_QUERY_TERMS)).alias("w"),
        )
        .distinct()
    )
    hits = pos.join(F.broadcast(qterms), ["query_id", "w"], "left_semi")
    wr = (
        Window.partitionBy("query_id", "doc_id")
        .orderBy("p")
        .rangeBetween(0, _SNIP_LEN - 1)
    )
    winned = hits.withColumn(
        "n_hits", F.count(F.lit(1)).over(wr).cast("long")
    )
    wb = Window.partitionBy("query_id", "doc_id").orderBy(
        F.col("n_hits").desc(), "p"
    )
    return (
        winned.withColumn("b", F.row_number().over(wb))
        .filter(F.col("b") == 1)
        .select(
            "query_id",
            "doc_id",
            F.col("r").cast("int").alias("rank"),
            F.col("p").cast("long").alias("snippet_start"),
            "n_hits",
            F.array_join(
                F.slice("ws", F.col("p"), F.lit(_SNIP_LEN)), " "
            ).alias("snippet_text"),
        )
    )


_EVAL_K = 10  # evaluate the lexical ranking at cutoff 10


@query(
    "retrieval_eval_report",
    oracle=f"""
    WITH {_SQL_RETRIEVAL_CTES},
    lex AS (SELECT query_id, doc_id, r FROM lexrank WHERE r <= {_EVAL_K}),
    sem AS (SELECT query_id, doc_id, r FROM semrank WHERE r <= {_EVAL_K}),
    judged AS (
      SELECT l.query_id, l.r AS lex_r,
             coalesce({_EVAL_K} + 1 - s.r, 0) AS rel
      FROM lex l
      LEFT JOIN sem s
        ON s.query_id = l.query_id AND s.doc_id = l.doc_id
    ),
    idcg AS (
      SELECT sum(CAST(round(({_EVAL_K} + 1 - i)
                            / log2(CAST(i + 1 AS DOUBLE)), 6)
                      AS DECIMAL(18, 6))) AS v
      FROM (SELECT unnest(range(1, {_EVAL_K} + 1)) AS i)
    ),
    per_q AS (
      SELECT query_id,
             CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
             sum(CAST(round(rel / log2(CAST(lex_r + 1 AS DOUBLE)), 6)
                      AS DECIMAL(18, 6))) AS dcg,
             min(CASE WHEN rel > 0 THEN lex_r END) AS first_rel
      FROM judged GROUP BY query_id
    )
    SELECT query_id,
           round(n_hits * 1.0 / {_EVAL_K}, 6) AS recall_at_{_EVAL_K},
           round(coalesce(CAST(1 AS DOUBLE) / first_rel, 0), 6) AS mrr,
           round(CAST(dcg AS DOUBLE) / CAST(i.v AS DOUBLE), 6)
             AS ndcg_at_{_EVAL_K}
    FROM per_q CROSS JOIN idcg i
    """,
)
def retrieval_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics for the BM25 arm against the exact
    TF-cosine top-{_EVAL_K} as graded ground truth (rel = {_EVAL_K}+1
    - semantic rank, 0 outside): recall@{_EVAL_K}, MRR, and
    nDCG@{_EVAL_K} per query — the standard eval loop run before
    trusting a cheap lexical ranker to pre-filter for an expensive
    semantic stage (Jarvelin & Kekalainen 2002 define nDCG; public
    methods). With graded truth fixed at {_EVAL_K} levels the ideal
    DCG is the same constant for every query, computed relationally
    on both engines.

    Float parity: hit counts and first-relevant ranks are exact
    integers; each DCG term (rel / log2(rank+1)) rounds to 6dp and
    sums in DECIMAL(18,6) — order-free — and the one nDCG division
    happens on identical doubles.

    Scale: consumes the two queries x {_EVAL_K} rank tables from
    `_retrieval_rankings`; everything here is bounded-table algebra."""
    lex, sem = _retrieval_rankings(spark, sf_dir)
    l = lex.filter(F.col("r") <= _EVAL_K).select(
        "query_id", "doc_id", F.col("r").alias("lex_r")
    )
    s = sem.filter(F.col("r") <= _EVAL_K).select(
        "query_id", "doc_id", F.col("r").alias("sem_r")
    )
    judged = l.join(s, ["query_id", "doc_id"], "left").select(
        "query_id",
        "lex_r",
        F.coalesce(_EVAL_K + 1 - F.col("sem_r"), F.lit(0)).alias("rel"),
    )
    idcg = (
        spark.range(1, _EVAL_K + 1)
        .select(
            F.round(
                (_EVAL_K + 1 - F.col("id"))
                / F.log2((F.col("id") + 1).cast("double")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("t")
        )
        .agg(F.sum("t").alias("v"))
    )
    per_q = judged.groupBy("query_id").agg(
        F.sum((F.col("rel") > 0).cast("int")).cast("long").alias("n_hits"),
        F.sum(
            F.round(
                F.col("rel") / F.log2((F.col("lex_r") + 1).cast("double")), 6
            ).cast("decimal(18,6)")
        ).alias("dcg"),
        F.min(F.when(F.col("rel") > 0, F.col("lex_r"))).alias("first_rel"),
    )
    return per_q.crossJoin(F.broadcast(idcg)).select(
        "query_id",
        F.round(F.col("n_hits") * 1.0 / _EVAL_K, 6).alias(
            f"recall_at_{_EVAL_K}"
        ),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(
            F.col("dcg").cast("double") / F.col("v").cast("double"), 6
        ).alias(f"ndcg_at_{_EVAL_K}"),
    )


_PRF_DOCS = 5  # pseudo-relevance feedback depth (lexical top-5)
_PRF_TERMS = 10  # expansion terms emitted per query


@query(
    "prf_query_expansion",
    oracle=f"""
    WITH {{ctes}},
    fb AS (
      SELECT query_id, doc_id FROM lexrank WHERE r <= {_PRF_DOCS}
    ),
    cand AS (
      SELECT f.query_id, t.w, t.doc_id,
             CAST(round(t.tf * 1.0 / l.dl, 9) AS DECIMAL(18, 9)) AS a
      FROM fb f
      JOIN tf t USING (doc_id)
      JOIN dl l ON l.doc_id = t.doc_id
    ),
    scored AS (
      SELECT query_id, w, sum(a) AS wsum,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_fb_docs
      FROM cand
      WHERE NOT EXISTS (SELECT 1 FROM qterms q
                        WHERE q.query_id = cand.query_id
                          AND q.w = cand.w)
      GROUP BY query_id, w
    )
    SELECT query_id, w AS term,
           round(CAST(wsum AS DOUBLE), 6) AS rm_weight,
           n_fb_docs,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY wsum DESC, w) AS INT) AS rank
    FROM scored
    QUALIFY rank <= {_PRF_TERMS}
    """.format(ctes=_SQL_RETRIEVAL_CTES),
)
def prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Lavrenko & Croft
    SIGIR 2001 relevance models, public method — RM1 with uniform
    feedback-document weights): treat each query's BM25
    top-{_PRF_DOCS} as relevant, estimate the relevance language
    model P(w|R) = sum over feedback docs of tf(w,d)/|d|, and emit
    the top-{_PRF_TERMS} NEW terms (original query terms excluded)
    per query — the expansion step a retrieval stack runs between
    first-pass ranking and re-retrieval. Completes the retrieval
    family's loop: rank (bm25/hybrid) -> evaluate (retrieval_eval)
    -> improve (this).

    Float parity: tf and dl are exact BIGINTs, so each tf/dl addend
    is an identical double; addends round to 9dp and sum in
    DECIMAL(18,9) — order-free — with one final 6dp display round.

    Scale: the feedback relation is queries x {_PRF_DOCS} doc ids
    (top-k output, tiny) and broadcasts into the tf equi-join, so
    term scoring touches only the feedback docs' postings; the
    original-term exclusion is a broadcast anti-join against the
    (queries x {_N_QUERY_TERMS})-row term table, and the final
    ranking is a window over the bounded candidate set — no
    corpus-wide work beyond the rankings it reuses."""
    lex, _ = _retrieval_rankings(spark, sf_dir)
    _, tf, dl, _, qterms = _tf_tables(spark, sf_dir)
    fb = lex.filter(F.col("r") <= _PRF_DOCS).select("query_id", "doc_id")
    cand = (
        F.broadcast(fb)
        .join(tf, "doc_id")
        .join(dl, "doc_id")
        .select(
            "query_id",
            "w",
            "doc_id",
            F.round(F.col("tf") * 1.0 / F.col("dl"), 9)
            .cast("decimal(18,9)")
            .alias("a"),
        )
    )
    scored = (
        cand.join(F.broadcast(qterms), ["query_id", "w"], "left_anti")
        .groupBy("query_id", "w")
        .agg(
            F.sum("a").alias("wsum"),
            F.countDistinct("doc_id").cast("long").alias("n_fb_docs"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("wsum").desc(), "w")
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _PRF_TERMS)
        .select(
            "query_id",
            F.col("w").alias("term"),
            F.round(F.col("wsum").cast("double"), 6).alias("rm_weight"),
            "n_fb_docs",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# MMR-diversified top-k (round 10)
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7  # relevance weight; keep 0.3 a LITERAL on both sides
_MMR_MU = 0.3      # (1 - 0.7 in Python is 0.30000000000000004 — never derive)
_MMR_K = 5


def _sql_mmr() -> str:
    """Unrolled greedy MMR oracle: K-1 argmax steps over MATERIALIZED
    CTEs (the k-core inlining guard — selall{k} is referenced three
    times per step, so un-materialized CTEs would expand the BM25
    pipeline 3^K times)."""
    lam, mu = _MMR_LAMBDA, _MMR_MU
    parts = [
        f"""cands AS MATERIALIZED (
      SELECT query_id, doc_id,
             round(CAST(score AS DOUBLE)
                   / max(CAST(score AS DOUBLE))
                       OVER (PARTITION BY query_id), 6) AS rel
      FROM lexrank WHERE r <= {_LEX_TOPK}
    ),
    ctf AS MATERIALIZED (
      SELECT c.query_id, c.doc_id, t.w, t.tf
      FROM cands c JOIN tf t USING (doc_id)
    ),
    cpair AS MATERIALIZED (
      SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
             round(CAST(sum(a.tf * b.tf) AS BIGINT)
                   / (na.nd * nb.nd), 6) AS sim
      FROM ctf a JOIN ctf b
        ON a.query_id = b.query_id AND a.w = b.w
           AND a.doc_id <> b.doc_id
      JOIN dnorm na ON na.doc_id = a.doc_id
      JOIN dnorm nb ON nb.doc_id = b.doc_id
      GROUP BY a.query_id, a.doc_id, b.doc_id, na.nd, nb.nd
    ),
    sel1 AS MATERIALIZED (
      SELECT query_id, doc_id, rel,
             CAST({lam} AS DOUBLE) * rel AS mmr, 1 AS rk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY rel DESC, doc_id) AS rn FROM cands)
      WHERE rn = 1
    ),
    selall1 AS MATERIALIZED (SELECT * FROM sel1)"""
    ]
    for k in range(2, _MMR_K + 1):
        parts.append(
            f"""pool{k} AS MATERIALIZED (
      SELECT c.query_id, c.doc_id, c.rel,
             CAST({lam} AS DOUBLE) * c.rel
               - CAST({mu} AS DOUBLE)
                 * coalesce(mx.msim, CAST(0 AS DOUBLE)) AS mmr
      FROM cands c
      LEFT JOIN (
        SELECT p.query_id, s.da AS doc_id, max(s.sim) AS msim
        FROM selall{k - 1} p
        JOIN cpair s ON s.query_id = p.query_id AND s.db = p.doc_id
        GROUP BY p.query_id, s.da
      ) mx ON mx.query_id = c.query_id AND mx.doc_id = c.doc_id
      WHERE NOT EXISTS (SELECT 1 FROM selall{k - 1} q
                        WHERE q.query_id = c.query_id
                          AND q.doc_id = c.doc_id)
    ),
    sel{k} AS MATERIALIZED (
      SELECT query_id, doc_id, rel, mmr, {k} AS rk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY mmr DESC, doc_id) AS rn FROM pool{k})
      WHERE rn = 1
    ),
    selall{k} AS MATERIALIZED (
      SELECT * FROM selall{k - 1} UNION ALL SELECT * FROM sel{k}
    )"""
        )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT query_id, doc_id, CAST(rk AS INT) AS mmr_rank, rel,
           round(mmr, 6) AS mmr_score
    FROM selall{_MMR_K}"""
    )


@query(
    "mmr_diverse_topk",
    oracle=f"""
    WITH {_SQL_RETRIEVAL_CTES},
    {_sql_mmr()}
    """,
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversified top-{_MMR_K} (Carbonell
    & Goldstein SIGIR'98, public method): greedily re-rank the BM25
    top-{_LEX_TOPK} so each pick maximizes lambda*rel(d) -
    (1-lambda)*max_sim(d, selected) — the de-duplicating re-rank a
    RAG pipeline applies so the context window isn't {_MMR_K} copies
    of the same boilerplate. rel is BM25 normalized per query to
    (0, 1]; sim is exact TF-cosine between CANDIDATES only.

    Scale split (the transition_shortest_paths stance): candidate
    relevances and pairwise sims are computed DISTRIBUTED (the BM25
    arm reuses the session tf build; the sim matrix is an equi-join
    on shared terms restricted to candidate postings — at most
    queries x pool^2 pairs by construction), then the greedy argmax
    chain — inherently sequential, {_MMR_K - 1} dependent steps over
    <= {3 * _LEX_TOPK} rows — runs driver-side instead of paying
    ~1 s/round of Spark stage-launch floor for sub-40-row joins.
    Both collects are hard-bounded with loud-failure guards.

    Cross-engine determinism: rel and sim are F.round/round(x, 6) of
    identical doubles (exact-integer dots over full-double norms);
    the greedy recurrence lam*rel - mu*max_sim uses the same IEEE
    literals in Python and SQL (mu is a LITERAL 0.3 — deriving
    1 - 0.7 in Python yields 0.30000000000000004); the output score
    is re-rounded HALF_UP via Decimal (bit-matching DuckDB's round,
    verify-skill pattern)."""
    from decimal import ROUND_HALF_UP, Decimal

    lexrank, _ = _retrieval_rankings(spark, sf_dir)
    wmax = Window.partitionBy("query_id")
    cands = (
        lexrank.filter(F.col("r") <= _LEX_TOPK)
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.col("score").cast("double")
                / F.max(F.col("score").cast("double")).over(wmax),
                6,
            ).alias("rel"),
        )
    )
    cand_rows = cands.collect()
    max_cands = _N_QUERY_DOCS * _LEX_TOPK
    if len(cand_rows) > max_cands:  # loud-failure bound on the collect
        raise RuntimeError(
            f"mmr candidate pool {len(cand_rows)} exceeds {max_cands}"
        )

    # Rebuild the candidate set from the COLLECTED rows: reusing the
    # lazy `cands` plan here would re-run the whole BM25 arm inside
    # the sim-matrix job (measured 4.6 s warm -> ~1 s). The isin
    # filter pushes the <=30 candidate ids into the tf scan, so the
    # self-join touches candidate postings only.
    cand_df = spark.createDataFrame(
        [(r.query_id, r.doc_id) for r in cand_rows],
        "query_id long, doc_id long",
    )
    doc_ids = sorted({r.doc_id for r in cand_rows})
    tf = _corpus_tf(spark, sf_dir)
    cand_tf = tf.filter(F.col("doc_id").isin(doc_ids))
    dnorm = cand_tf.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tf") * F.col("tf")).cast("double")).alias("nd")
    )
    ctf = cand_tf.join(F.broadcast(cand_df), "doc_id")
    a = ctf.alias("a")
    b = ctf.alias("b")
    na = dnorm.alias("na")
    nb = dnorm.alias("nb")
    cpair = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.query_id").alias("query_id"),
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).cast("long").alias("dp"))
        .join(na, F.col("da") == F.col("na.doc_id"))
        .join(nb, F.col("db") == F.col("nb.doc_id"))
        .select(
            "query_id",
            "da",
            "db",
            F.round(
                F.col("dp") / (F.col("na.nd") * F.col("nb.nd")), 6
            ).alias("sim"),
        )
    )
    pair_rows = cpair.collect()
    max_pairs = max_cands * _LEX_TOPK
    if len(pair_rows) > max_pairs:  # bounded by queries x pool^2
        raise RuntimeError(
            f"mmr sim matrix {len(pair_rows)} exceeds {max_pairs}"
        )

    sim = {(r.query_id, r.da, r.db): r.sim for r in pair_rows}
    by_q: dict[int, list] = {}
    for r in cand_rows:
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.rel))
    out = []
    for qid in sorted(by_q):
        pool = dict(by_q[qid])
        selected: list[int] = []
        for rk in range(1, _MMR_K + 1):
            best = None
            for doc_id in sorted(pool):
                rel = pool[doc_id]
                msim = max(
                    (sim.get((qid, doc_id, s), 0.0) for s in selected),
                    default=0.0,
                )
                mmr = _MMR_LAMBDA * rel - _MMR_MU * msim
                if best is None or mmr > best[1]:
                    best = (doc_id, mmr, rel)
            if best is None:
                break
            doc_id, mmr, rel = best
            score = float(
                Decimal(repr(mmr)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            out.append((qid, doc_id, rk, rel, score))
            selected.append(doc_id)
            del pool[doc_id]
    return spark.createDataFrame(
        out,
        "query_id long, doc_id long, mmr_rank int, rel double, "
        "mmr_score double",
    )
