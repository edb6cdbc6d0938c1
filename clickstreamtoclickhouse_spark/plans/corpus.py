"""Corpus-curation operators, batch 2 (SURVEY.md §2.11 extension
family): Gopher n-gram repetition filters, Bloom-filter membership
dedup, and product-quantization (ADC) approximate nearest neighbors.

Like plans/ext.py, every operator here is a pure DataFrame plan with
a term-identical DuckDB oracle: integer occupancy sums and fixed-order
double folds keep the value hashes bit-comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as tx
from ..functions.dedup_text import (
    BLOOM_M_DEFAULT,
    bloom_positions,
    sql_bloom_positions,
)
from ..util import (
    SessionDFCache,
    portable_id_hash,
    release_local_checkpoint,
    widen_scan,
)
from .ext import _COPY_OFFSET
from .registry import load, query

# ---------------------------------------------------------------------------
# Gopher n-gram repetition filters
# ---------------------------------------------------------------------------

_TOP_NS = (3, 4)  # top-n-gram char occupancy (Gopher: 2,3,4 — 2 in gopher_stats)
_DUP_NS = (5, 6)  # duplicate-n-gram char occupancy (Gopher: 5..10)
_TOP_THRESH = {3: 0.18, 4: 0.16}
_DUP_THRESH = {5: 0.15, 6: 0.14}


def _rep_oracle_sql() -> str:
    gram_ctes = []
    for n in (*_TOP_NS, *_DUP_NS):
        gram_ctes.append(
            f"""g{n} AS (
      SELECT doc_id, nc, {n} AS n,
             unnest(list_transform(range(1, len(ws) - {n} + 2),
                    i -> array_to_string(ws[i:i+{n - 1}], ' '))) AS g
      FROM toks WHERE len(ws) >= {n}
    )"""
        )
    union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM g{n}" for n in (*_TOP_NS, *_DUP_NS)
    )
    top_cols = ",\n           ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN top_occ END), 0) AS top{n}_occ"
        for n in _TOP_NS
    )
    dup_cols = ",\n           ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN dup_occ END), 0) AS dup{n}_occ"
        for n in _DUP_NS
    )
    frac = "round(CASE WHEN b.nc = 0 THEN 0.0 ELSE coalesce(w.{occ}, 0) * 1.0 / b.nc END, 6)"
    out_cols = ",\n           ".join(
        [frac.format(occ=f"top{n}_occ") + f" AS top{n}_frac" for n in _TOP_NS]
        + [frac.format(occ=f"dup{n}_occ") + f" AS dup{n}_frac" for n in _DUP_NS]
    )
    passes = " AND ".join(
        [
            frac.format(occ=f"top{n}_occ") + f" <= {_TOP_THRESH[n]}"
            for n in _TOP_NS
        ]
        + [
            frac.format(occ=f"dup{n}_occ") + f" <= {_DUP_THRESH[n]}"
            for n in _DUP_NS
        ]
    )
    return f"""
    WITH base AS (
      SELECT doc_id, length(text) AS nc, lower(text) AS t FROM documents
    ),
    toks AS (
      SELECT doc_id, nc, {tx.SQL_WORDS.format(t='t')} AS ws
      FROM base WHERE length(trim(t)) > 0
    ),
    {",".join(gram_ctes)},
    grams AS (
      {union}
    ),
    cnt AS (
      SELECT doc_id, nc, n, g, count(*) AS c FROM grams GROUP BY ALL
    ),
    per_n AS (
      SELECT doc_id, nc, n,
             max(c * length(g)) AS top_occ,
             sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS dup_occ
      FROM cnt GROUP BY ALL
    ),
    wide AS (
      SELECT doc_id,
           {top_cols},
           {dup_cols}
      FROM per_n GROUP BY doc_id
    )
    SELECT b.doc_id,
           {out_cols},
           CAST(CASE WHEN {passes} THEN 1 ELSE 0 END AS INT) AS rep_pass
    FROM base b LEFT JOIN wide w USING (doc_id)
    """


@query("ngram_repetition_filters", oracle=_rep_oracle_sql())
def ngram_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters beyond gopher_stats' top-bigram /
    dup-trigram pair (Rae et al. 2021, App. A: top-{2,3,4}-gram and
    duplicate-{5..10}-gram character fractions — public heuristics):
    per document, the character occupancy of the heaviest {3,4}-gram
    and of all duplicated {5,6}-grams, plus the composite pass flag.

    Occupancy variant: `top_occ = max over grams of count×len(gram)`
    — "the n-gram occupying the most characters" rather than "chars
    of the most frequent n-gram". A plain MAX over exact integers
    needs no argmax tie rule, so Spark and the oracle agree bit-wise;
    overlapping occurrences mean fractions may exceed 1 (Gopher's
    do too).

    Scale: one token explode -> per-doc lead window -> gram-count
    shuffle keyed (doc_id, n, gram) -> per-doc reduce. No
    corpus-global state; every window partitions by doc_id; a 10^9-doc
    corpus shuffles only its tokens and gram-count triples.

    The grams come from posexplode + lead(w, k) windows with scalar
    concat_ws — all whole-stage codegen. The equivalent array-slice/
    zip_with build (tx._ngrams ×4) runs on the interpreted HOF path
    and measured 5.5x slower at sf0.1; outputs are identical
    (equality pinned in test_extensions)."""
    d = widen_scan(load(spark, sf_dir, "documents"))
    ns = (*_TOP_NS, *_DUP_NS)
    tok = d.select(
        "doc_id",
        F.length("text").alias("nc"),
        F.posexplode(tx.words(F.lower(F.col("text")))).alias("pos", "w"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    leads = tok.select(
        "doc_id",
        "nc",
        "w",
        *[F.lead("w", k).over(w_doc).alias(f"l{k}") for k in range(1, max(ns))],
    )

    def gram(n: int) -> F.Column:
        # concat_ws silently SKIPS nulls (would emit a short gram at
        # doc tail) — the when-guard nulls the gram instead
        parts = [F.col("w")] + [F.col(f"l{k}") for k in range(1, n)]
        return F.when(F.col(f"l{n - 1}").isNotNull(), F.concat_ws(" ", *parts))

    grams = (
        leads.select(
            "doc_id",
            "nc",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(n).alias("n"), gram(n).alias("g"))
                        for n in ns
                    ]
                )
            ).alias("x"),
        )
        .select("doc_id", "nc", F.col("x.n").alias("n"), F.col("x.g").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    per_n = (
        grams.groupBy("doc_id", "nc", "n", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id", "nc", "n")
        .agg(
            F.max(F.col("c") * F.length("g")).alias("top_occ"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.length("g")).otherwise(
                    F.lit(0)
                )
            ).alias("dup_occ"),
        )
    )
    wide = per_n.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("top_occ"))), F.lit(0)
            ).alias(f"top{n}_occ")
            for n in _TOP_NS
        ],
        *[
            F.coalesce(
                F.max(F.when(F.col("n") == n, F.col("dup_occ"))), F.lit(0)
            ).alias(f"dup{n}_occ")
            for n in _DUP_NS
        ],
    )

    def frac(occ: str) -> F.Column:
        return F.round(
            F.when(F.col("nc") == 0, F.lit(0.0)).otherwise(
                F.coalesce(F.col(occ), F.lit(0)) * 1.0 / F.col("nc")
            ),
            6,
        )

    passes = None
    for n in _TOP_NS:
        c = frac(f"top{n}_occ") <= _TOP_THRESH[n]
        passes = c if passes is None else (passes & c)
    for n in _DUP_NS:
        c = frac(f"dup{n}_occ") <= _DUP_THRESH[n]
        passes = passes & c
    return (
        d.select("doc_id", F.length("text").alias("nc"))
        .join(wide, "doc_id", "left")
        .select(
            "doc_id",
            *[frac(f"top{n}_occ").alias(f"top{n}_frac") for n in _TOP_NS],
            *[frac(f"dup{n}_occ").alias(f"dup{n}_frac") for n in _DUP_NS],
            passes.cast("int").alias("rep_pass"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership dedup
# ---------------------------------------------------------------------------

# filter sized (m=8192, k=4) for ~250 inserts -> FP ~2e-4


def _bloom_pos(col: F.Column) -> list[F.Column]:
    return bloom_positions(col, BLOOM_M_DEFAULT)


def _sql_bloom_pos(t: str) -> str:
    return sql_bloom_positions(t, BLOOM_M_DEFAULT)


@query(
    "bloom_dedup_docs",
    oracle=f"""
    WITH qry AS (
      SELECT doc_id + {_COPY_OFFSET} AS doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {2 * _COPY_OFFSET} AS doc_id,
             substring(text, 1, cast(floor(length(text) * 0.8) as int)) AS text
      FROM documents
    ),
    bits AS (
      SELECT DISTINCT unnest([{_sql_bloom_pos('text')}]) AS pos FROM documents
    ),
    qpos AS (
      SELECT doc_id, unnest([{_sql_bloom_pos('text')}]) AS pos FROM qry
    ),
    hit AS (
      SELECT q.doc_id,
             min(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS allset
      FROM qpos q LEFT JOIN bits b USING (pos) GROUP BY q.doc_id
    ),
    ih AS (SELECT DISTINCT md5(text) AS th FROM documents)
    SELECT q.doc_id,
           CAST(h.allset AS INT) AS bloom_hit,
           CAST(CASE WHEN i.th IS NULL THEN 0 ELSE 1 END AS INT) AS exact_dup
    FROM qry q JOIN hit h USING (doc_id)
    LEFT JOIN ih i ON md5(q.text) = i.th
    """,
)
def bloom_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership dedup (Bloom 1970; the batch-vs-history
    screen web pipelines run before exact checks): originals build a
    k=4-hash, m=8192-bit filter; a query batch (exact copies — all
    true dups — plus 80%-truncated copies — all non-dups, exercising
    the false-positive path) is flagged `bloom_hit` when every one of
    its bit positions is set, alongside the exact-md5 ground truth.
    Hash draw is the md5 digest split into four disjoint 32-bit
    windows — no RNG, so even the false positives are deterministic
    and the oracle hash-matches them.

    Scale: the filter is represented RELATIONALLY as its set-bit
    table (<= m rows), built with one map-side-combined distinct;
    membership is a per-doc join on `pos`. At this m the bit table
    broadcasts; at web scale m grows to ~10^10 bits and the same plan
    degrades gracefully to a sort-merge join on pos — still linear,
    never all-pairs. Vs incremental_dedup_docs' exact hash index the
    trade is O(m bits) state for a tunable FP rate."""
    docs = load(spark, sf_dir, "documents")
    qry = docs.select(
        (F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text"
    ).unionByName(
        docs.select(
            (F.col("doc_id") + 2 * _COPY_OFFSET).alias("doc_id"),
            F.expr(
                "substring(text, 1, cast(floor(length(text) * 0.8) as int))"
            ).alias("text"),
        )
    )
    bits = (
        docs.select(F.explode(F.array(*_bloom_pos(F.col("text")))).alias("pos"))
        .distinct()
        .withColumn("set1", F.lit(1))
    )
    hit = (
        qry.select("doc_id", F.explode(F.array(*_bloom_pos(F.col("text")))).alias("pos"))
        .join(bits, "pos", "left")  # no broadcast hint: tiny bit
        # tables broadcast via size estimate, a web-scale m degrades
        # to sort-merge instead of OOMing a forced broadcast
        .groupBy("doc_id")
        .agg(F.min(F.coalesce(F.col("set1"), F.lit(0))).alias("allset"))
    )
    idx_hashes = (
        docs.select(F.md5("text").alias("th")).distinct().withColumn("isdup", F.lit(1))
    )
    return (
        qry.withColumn("th", F.md5("text"))
        .join(idx_hashes, "th", "left")  # corpus-sized: must never be
        # hint-forced into a broadcast
        .join(hit, "doc_id")
        .select(
            "doc_id",
            F.col("allset").cast("int").alias("bloom_hit"),
            F.coalesce(F.col("isdup"), F.lit(0)).cast("int").alias("exact_dup"),
        )
    )

# ---------------------------------------------------------------------------
# Product quantization (ADC) approximate nearest neighbors
# ---------------------------------------------------------------------------

_PQ_M = 16  # subspaces
_PQ_SUB = 4  # dims per subspace (EMB_DIM / _PQ_M)
_PQ_K = 32  # codes per codebook
_PQ_ITERS = 4  # Lloyd rounds per subspace
_PQ_SHORTLIST = 20  # ADC candidates re-ranked exactly
_PQ_TOPK = 5
_PQ_SCALE = 1000  # input quantization grid (see docstring)
_PQ_TRAIN = 1024  # codebook training sample (bottom-N by portable hash)


def _pq_oracle_sql() -> str:
    """DuckDB SQL replicating embedding_pq_topk bit-exactly: same
    integer-grid inputs, seed rule, Lloyd schedule, ADC and re-rank
    tie-breaks. Portability rests on the `round(x*scale)` input grid:
    every per-cluster sum is a sum of integer-valued doubles (exact in
    any order, so Spark's partial aggregation and DuckDB's serial SUM
    agree bit-wise), centroids are exact-int / count, and all distance
    folds run dims in fixed order on both engines."""
    m_tab = f"(SELECT unnest(range({_PQ_M})) AS m)"
    sub_sq = (
        f"list_reduce(list_transform(range({_PQ_SUB}), "
        "i -> ({a}[i + 1] - {b}[i + 1]) * ({a}[i + 1] - {b}[i + 1])), "
        "(x, y) -> x + y)"
    )
    full_sq = (
        f"list_reduce(list_transform(range({_PQ_M * _PQ_SUB}), "
        "i -> ({a}[i + 1] - {b}[i + 1]) * ({a}[i + 1] - {b}[i + 1])), "
        "(x, y) -> x + y)"
    )
    ctes = [
        f"""emb AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> round(x * {_PQ_SCALE})) AS v
      FROM embeddings
    ),
    train AS (
      SELECT vec_id, v FROM (
        SELECT vec_id, v, row_number() OVER (
          ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                   vec_id) AS rn
        FROM emb
      ) WHERE rn <= {_PQ_TRAIN}
    ),
    seeds AS (
      SELECT row_number() OVER (
               ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                        vec_id) - 1 AS j,
             v
      FROM train
      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT, vec_id
      LIMIT {_PQ_K}
    ),
    cb0 AS (
      SELECT m.m, s.j,
             s.v[m.m * {_PQ_SUB} + 1 : m.m * {_PQ_SUB} + {_PQ_SUB}] AS c
      FROM seeds s CROSS JOIN {m_tab} m
    ),
    sub AS (
      SELECT e.vec_id, m.m,
             e.v[m.m * {_PQ_SUB} + 1 : m.m * {_PQ_SUB} + {_PQ_SUB}] AS s
      FROM emb e CROSS JOIN {m_tab} m
    ),
    subt AS (
      SELECT t.vec_id, m.m,
             t.v[m.m * {_PQ_SUB} + 1 : m.m * {_PQ_SUB} + {_PQ_SUB}] AS s
      FROM train t CROSS JOIN {m_tab} m
    ),
    dd AS (
      SELECT vec_id, m, unnest(range({_PQ_SUB})) AS dim,
             unnest(s) AS x
      FROM subt
    )"""
    ]
    for t in range(_PQ_ITERS):
        d = sub_sq.format(a="u.s", b="c.c")
        ctes.append(
            f"""d{t} AS (
      SELECT u.vec_id, u.m, c.j, {d} AS d
      FROM subt u JOIN cb{t} c ON u.m = c.m
    ),
    a{t} AS (
      SELECT vec_id, m, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM d{t}
      ) WHERE rn = 1
    ),
    s{t} AS (
      SELECT a.m, a.j, d.dim, sum(d.x) AS sx
      FROM a{t} a JOIN dd d ON a.vec_id = d.vec_id AND a.m = d.m
      GROUP BY a.m, a.j, d.dim
    ),
    n{t} AS (SELECT m, j, count(*) AS n FROM a{t} GROUP BY m, j),
    cb{t + 1} AS (
      SELECT pc.m, pc.j,
             CASE WHEN n.n IS NULL THEN pc.c
                  ELSE (SELECT list(s.sx / n.n ORDER BY s.dim)
                        FROM s{t} s WHERE s.m = pc.m AND s.j = pc.j)
             END AS c
      FROM cb{t} pc LEFT JOIN n{t} n ON pc.m = n.m AND pc.j = n.j
    )"""
        )
    T = _PQ_ITERS
    enc_d = sub_sq.format(a="u.s", b="c.c")
    lut_d = sub_sq.format(a="u.s", b="c.c")
    d_cols = ",\n             ".join(
        f"max(CASE WHEN l.m = {m} THEN l.d END) AS d{m}" for m in range(_PQ_M)
    )
    d_sum = " + ".join(f"d{m}" for m in range(_PQ_M))
    rerank_d = full_sq.format(a="qe.v", b="ne.v")
    ctes.append(
        f"""encd AS (
      SELECT u.vec_id, u.m, c.j, {enc_d} AS d
      FROM sub u JOIN cb{T} c ON u.m = c.m
    ),
    enc AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM encd
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT u.vec_id AS query_id, u.m, c.j, {lut_d} AS d
      FROM sub u JOIN cb{T} c ON u.m = c.m
      WHERE u.vec_id < 10
    ),
    ad AS (
      SELECT l.query_id, e.vec_id AS neighbor_id,
             {d_cols}
      FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.j
      WHERE l.query_id <> e.vec_id
      GROUP BY l.query_id, e.vec_id
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY round({d_sum}, 9), neighbor_id) AS rn
        FROM ad
      ) WHERE rn <= {_PQ_SHORTLIST}
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id, {rerank_d} AS dist
      FROM short s
      JOIN emb qe ON qe.vec_id = s.query_id
      JOIN emb ne ON ne.vec_id = s.neighbor_id
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           round(dist, 6) AS dist
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
      FROM rer
    ) WHERE rank <= {_PQ_TOPK}
    """
    )


def _pq_sqdist(a: F.Column, b: F.Column) -> F.Column:
    """Fixed-order (left-fold) squared L2 — term-identical with the
    oracle's list_reduce so doubles match bit-wise."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@query("embedding_pq_topk", oracle=_pq_oracle_sql())
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    and exact re-rank (Jégou et al. 2011, public method): embeddings
    are split into `_PQ_M`×`_PQ_SUB`-dim subspaces; each subspace gets
    a `_PQ_K`-entry codebook trained by `_PQ_ITERS` deterministic
    Lloyd rounds over a BOUNDED `_PQ_TRAIN`-vector sample (bottom-N by
    portable md5 id hash; seeds = the first `_PQ_K` of the same
    ordering, ties to the lowest code). Sample-trained codebooks are
    the standard PQ deployment (FAISS trains on a sample regardless of
    index size), which makes training a driver-side numpy step — the
    corpus only ever sees the single distributed encode pass. Corpus
    vectors are encoded to M small codes; a query's approximate
    distance is the sum of per-subspace LUT lookups — no float math
    per (query, corpus) pair — and the ADC shortlist of
    `_PQ_SHORTLIST` is re-ranked exactly for the final top-k. Recall
    vs exact L2 is pinned in test_extensions. Complements
    embedding_ivf_topk (coarse cells) and embedding_rerank_topk
    (scalar int8): PQ is the memory-bound regime — 64 floats -> 16
    bytes per vector here.

    Bit-portability: inputs are first snapped to an integer grid
    (`round(x*1000)`), so every per-cluster Lloyd sum is a sum of
    integer-valued doubles — EXACT in any accumulation order, making
    numpy's training sums equal DuckDB's serial SUM bit-for-bit (the
    float-sum analog of the BoW-count argument in
    doc_topic_clusters; valid while sums stay under 2^53).
    Centroids are exact-int/count; distance folds run dims in fixed
    order (explicit left-fold in numpy, Column exprs, and list_reduce
    alike); np.argmin's first-min tie-break matches ORDER BY d, j; the
    M partial ADC distances add left-to-right (no SUM aggregate). The
    grid costs ±5e-4 relative noise — far below the quantization error
    PQ itself accepts.

    Scale: training reads `_PQ_TRAIN`×`EMB_DIM` doubles to the driver
    once (a few hundred KB, corpus-size-independent); encoding is one
    linear pass against broadcast codebooks; the LUT is nq×M×K rows
    broadcast; ADC
    joins the M-rows-per-vector code table to the LUT and reduces by
    (query, neighbor) with map-side combine; shortlist and final rank
    are WindowGroupLimit-pruned windows keyed by query."""
    import numpy as np

    base = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # NOTE the per-ELEMENT scalar extract+cast+round in the encode
    # path below (never an array-wide transform(...) or cast(...)
    # feeding element_at): projection collapse inlines a whole-array
    # expression into EVERY one of the 64 element_at extractions, so
    # the array gets re-transformed (or re-cast) 64x per row — an
    # O(dim^2) interpreted blowup that made the encode scan a 2s
    # single-task stage. round(cast(element_at(raw, i)) * SCALE, 0)
    # is the same arithmetic, one direct array access per element,
    # whole-stage codegen throughout.
    emb = base.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * _PQ_SCALE, 0),
        ).alias("v"),
    )
    # codebook training sample: bottom-_PQ_TRAIN vectors by portable id
    # hash — BOUNDED at any corpus size (the FAISS stance: PQ codebooks
    # train on a sample; the corpus only ever sees the linear encode
    # pass below). Deterministic and engine-portable, so the oracle
    # takes the identical sample. Seeds = the first _PQ_K of the same
    # ordering.
    train_rows = (
        emb.withColumn("h", portable_id_hash("vec_id"))
        .orderBy("h", "vec_id")
        .limit(_PQ_TRAIN)
        .collect()
    )
    if len(train_rows) > _PQ_TRAIN:  # LIMIT-bounded by construction
        raise ValueError(
            f"pq codebook: training sample returned {len(train_rows)} "
            f"rows (> {_PQ_TRAIN}); driver-side Lloyd assumes a "
            "LIMIT-bounded sample"
        )
    X = np.array([list(r["v"]) for r in train_rows], dtype=np.float64)
    k_eff = min(_PQ_K, len(train_rows))

    # driver-side Lloyd rounds over the bounded sample (numpy; ~1024×64
    # doubles). Bit-parity with the oracle's SQL training: per-term
    # (x-c)^2 is elementwise IEEE; the SUB terms add in explicit left-
    # fold order; np.argmin's first-min tie-break = ORDER BY d, j;
    # cluster sums are sums of integer-valued doubles (exact in any
    # order); centroids are one exact division sum/count.
    books: list[list[list[float]]] = []
    for m in range(_PQ_M):
        Xm = X[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
        C = Xm[:k_eff].copy()
        for _ in range(_PQ_ITERS):
            diff = Xm[:, None, :] - C[None, :, :]
            sq = diff * diff  # explicit multiply (not **2/pow) for IEEE parity
            d = sq[..., 0]
            for i in range(1, _PQ_SUB):
                d = d + sq[..., i]
            codes = np.argmin(d, axis=1)
            for j in range(k_eff):
                mask = codes == j
                if mask.any():
                    C[j] = Xm[mask].sum(axis=0) / mask.sum()
        books.append([[float(c) for c in row] for row in C])

    # element long form: one row per (vector, subspace) with the
    # subvector as SCALAR columns — distances below are plain codegen
    # arithmetic (the HOF fold form ran interpreted and was the bench
    # hotspot; a literal-centroid expression tree was worse still:
    # M×K inlined centroids made megabyte plans that stalled Catalyst)
    # The encode pass fans each input row out 16x and partially
    # aggregates ~M*K distance rows per vector INSIDE the scan stage —
    # on an under-partitioned input (one small parquet split at test
    # SF) that whole fan-out runs in one task; widen_scan fixes that
    # and is a no-op on a real deployment's many-split scan.
    sub = widen_scan(base).select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        *[
                            F.round(
                                F.element_at(
                                    "embedding", m * _PQ_SUB + i + 1
                                ).cast("double")
                                * _PQ_SCALE,
                                0,
                            ).alias(f"e{i}")
                            for i in range(_PQ_SUB)
                        ],
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("x"),
    ).select("vec_id", "x.*")

    def codebook_df(books_now: list[list[list[float]]]) -> DataFrame:
        """Codebooks as a broadcastable TABLE (m, j, c0..c{SUB-1}) —
        M×K rows, joined on m instead of inlined as literals."""
        rows = [
            (m, j, *books_now[m][j])
            for m in range(_PQ_M)
            for j in range(k_eff)
        ]
        schema = "m int, j int, " + ", ".join(
            f"c{i} double" for i in range(_PQ_SUB)
        )
        return spark.createDataFrame(rows, schema)

    def dist_expr() -> F.Column:
        """Left-fold scalar squared L2 over the SUB element/centroid
        column pairs — same addition order as the oracle's
        list_reduce, all inside whole-stage codegen."""
        terms = [
            (F.col(f"e{i}") - F.col(f"c{i}")) * (F.col(f"e{i}") - F.col(f"c{i}"))
            for i in range(_PQ_SUB)
        ]
        d = terms[0]
        for t in terms[1:]:
            d = d + t
        return d

    cb = codebook_df(books)  # ONE codebook table, broadcast once and
    # reused by the encode pass and the LUT (two createDataFrame +
    # broadcast rounds showed up as separate sub-second jobs)

    def assign(cb_now: DataFrame) -> DataFrame:
        """(vec_id, m, e0.., code): argmin_j over the K centroids of
        each subspace — n×M×K distance rows, reduced by a map-side-
        combinable min(struct(d, j)) (lexicographic: ties -> lowest
        j, matching the oracle's ORDER BY d, j)."""
        return (
            sub.join(F.broadcast(cb_now), "m")
            .withColumn("d", dist_expr())
            .groupBy("vec_id", "m", *[f"e{i}" for i in range(_PQ_SUB)])
            .agg(
                F.min(F.struct(F.col("d"), F.col("j"))).alias("best")
            )
            .select(
                "vec_id",
                "m",
                *[f"e{i}" for i in range(_PQ_SUB)],
                F.col("best.j").cast("int").alias("code"),
            )
        )

    enc_long = assign(cb).select("vec_id", "m", "code")

    # LUT: per (query, m, j) distances — nq×M×K rows via the same
    # broadcast codebook join over the bounded query set
    lut = (
        sub.filter(F.col("vec_id") < 10)
        .join(F.broadcast(cb), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("m").alias("lm"),
            F.col("j").alias("lj"),
            dist_expr().alias("d"),
        )
    )
    ad = (
        enc_long.join(
            F.broadcast(lut),
            (F.col("m") == F.col("lm")) & (F.col("code") == F.col("lj")),
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            *[
                F.max(F.when(F.col("lm") == m, F.col("d"))).alias(f"d{m}")
                for m in range(_PQ_M)
            ]
        )
    )
    adist = F.col("d0")
    for m in range(1, _PQ_M):
        adist = adist + F.col(f"d{m}")
    w_short = Window.partitionBy("query_id").orderBy(
        F.round(adist, 9), "neighbor_id"
    )
    short = (
        ad.withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank of the shortlist on the quantized grid; only the
    # bounded QUERY vectors broadcast — never the corpus side
    qe = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    ne = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    rer = (
        short.join(F.broadcast(qe), "query_id")
        .join(ne, "neighbor_id")
        .withColumn("dist", _pq_sqdist(F.col("qv"), F.col("nv")))
    )
    w_final = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        rer.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("dist", 6).alias("dist"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing
# ---------------------------------------------------------------------------

_PPL_SAMPLE_K = 500


@query(
    "perplexity_buckets",
    oracle=f"""
    WITH {tx.SQL_UNIGRAM_SCORED_CTES},
    rescored AS (
      SELECT doc_id, n_tokens, avg_logprob AS score FROM scored
    ),
    samp AS (
      SELECT doc_id, score FROM (
        SELECT doc_id, score,
               row_number() OVER (
                 ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                          doc_id) AS rn
        FROM rescored
      ) WHERE rn <= {_PPL_SAMPLE_K}
    ),
    sr AS (
      SELECT score,
             row_number() OVER (ORDER BY score, doc_id) AS srn,
             count(*) OVER () AS s
      FROM samp
    ),
    cuts AS (
      SELECT max(CASE WHEN srn = (s + 2) // 3 THEN score END) AS c1,
             max(CASE WHEN srn = (2 * s + 2) // 3 THEN score END) AS c2
      FROM sr
    )
    SELECT sc.doc_id, sc.n_tokens, sc.score,
           CASE WHEN sc.score <= cuts.c1 THEN 'tail'
                WHEN sc.score <= cuts.c2 THEN 'middle'
                ELSE 'head' END AS bucket
    FROM rescored sc, cuts
    """,
)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020, public
    method): score every document with the self-trained unigram LM
    (unigram_lm_quality's plan — broadcast vocab, two keyed shuffles)
    and assign terciles. The tercile cut points come from a
    deterministic portable-hash sample of `_PPL_SAMPLE_K` doc scores
    — order statistics at ceil(s/3) / ceil(2s/3) — NOT from an
    unpartitioned ntile over the full corpus, so no single task ever
    sorts all documents (the value_deciles_approx pattern; sample
    selection is a TakeOrderedAndProject global top-k — per-partition
    heads then a k-row merge). Buckets
    compare ROUNDED scores to rounded cuts, so a cross-engine ULP
    in the score average cannot flip a boundary doc."""
    d = widen_scan(load(spark, sf_dir, "documents"))
    # r14: scored feeds the tercile-cut sample AND the bucketed output
    # — unpinned, the whole LM scoring pass (vocab build + score
    # aggregate) ran twice (12 scans). Pin the NARROW (doc_id,
    # n_tokens, score) table once (guide §3.3/§8: decide on light
    # rows; payload text never enters the checkpoint).
    scored = tx.unigram_scored_docs(d).withColumnRenamed(
        "avg_logprob", "score"
    ).localCheckpoint(eager=False)
    # global deterministic sample as orderBy+limit, NOT a row_number
    # window: Spark plans this as TakeOrderedAndProject — per-partition
    # top-k then a k-row merge — whereas an unpartitioned rank window
    # funnels every doc score through one task (the WindowExec warning)
    samp = (
        scored.select("doc_id", "score", portable_id_hash("doc_id").alias("h"))
        .orderBy("h", "doc_id")
        .limit(_PPL_SAMPLE_K)
        .drop("h")
    )
    # try_element_at + greatest(1, ·): an all-empty-text corpus makes
    # the un-grouped agg emit one s=0 row whose index would be 0 —
    # ANSI element_at would throw where the oracle just returns no
    # rows; NULL cuts are harmless because `scored` is empty too
    cuts = samp.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("score").alias("cv"), F.col("doc_id").alias("cid")))
        ).alias("a"),
        F.count("*").alias("s"),
    ).select(
        F.try_element_at("a", F.expr("int(greatest(1, (s + 2) div 3))"))["cv"].alias("c1"),
        F.try_element_at("a", F.expr("int(greatest(1, (2 * s + 2) div 3))"))["cv"].alias("c2"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        "score",
        F.when(F.col("score") <= F.col("c1"), F.lit("tail"))
        .when(F.col("score") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("head"))
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# BPE merge induction (tokenizer training)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6


def _bpe_oracle_sql(final: str = "merges") -> str:
    """DuckDB SQL replicating learn-BPE bit-exactly: same word-count
    table, same argmax tie-break (count desc, then pair lexicographic),
    same greedy left-to-right merge application (run parity handles
    overlapping same-symbol pairs). All counts are integers — no float
    portability concerns anywhere. `final`: 'merges' emits the learned
    merge table; 'tokens' emits the resulting per-word tokenization.
    CTEs are MATERIALIZED: DuckDB would otherwise inline each round's
    several references to the previous round, re-expanding the chain."""
    ctes = [
        f"""vocab AS MATERIALIZED (
      SELECT w AS word, count(*) AS freq
      FROM (
        SELECT unnest({tx.SQL_WORDS.format(t='lower(text)')}) AS w
        FROM documents WHERE length(trim(text)) > 0
      ) GROUP BY w
    ),
    l0 AS MATERIALIZED (
      SELECT word, freq, t.x['pos'] AS pos, t.x['sym'] AS sym
      FROM vocab,
           unnest(list_transform(range(length(word)),
                  i -> {{'pos': i, 'sym': word[i+1:i+1]}})) AS t(x)
    )"""
    ]
    for t in range(_BPE_ROUNDS):
        ctes.append(
            f"""p{t} AS MATERIALIZED (
      SELECT sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b,
             freq
      FROM l{t}
    ),
    pc{t} AS MATERIALIZED (
      SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM p{t} WHERE b IS NOT NULL GROUP BY a, b
    ),
    b{t} AS MATERIALIZED (SELECT a, b, cnt FROM pc{t} ORDER BY cnt DESC, a, b LIMIT 1),
    x{t} AS MATERIALIZED (
      SELECT word, freq, pos, sym,
             row_number() OVER (PARTITION BY word ORDER BY pos) AS idx,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM l{t}
    ),
    fl{t} AS MATERIALIZED (
      SELECT *,
             CASE WHEN sym = (SELECT a FROM b{t})
                   AND nxt = (SELECT b FROM b{t}) THEN 1 ELSE 0 END AS hit
      FROM x{t}
    ),
    rn{t} AS MATERIALIZED (
      SELECT *,
             CASE WHEN hit = 1 THEN
               idx - row_number() OVER (PARTITION BY word, hit ORDER BY idx)
             END AS grp
      FROM fl{t}
    ),
    mg{t} AS MATERIALIZED (
      SELECT *,
             CASE WHEN hit = 1
                   AND (row_number() OVER (PARTITION BY word, grp ORDER BY idx)
                        - 1) % 2 = 0
                  THEN 1 ELSE 0 END AS merged
      FROM rn{t}
    ),
    l{t + 1} AS MATERIALIZED (
      SELECT word, freq, pos,
             CASE WHEN merged = 1 THEN sym || nxt ELSE sym END AS sym
      FROM (
        SELECT *, lag(merged) OVER (PARTITION BY word ORDER BY idx) AS mprev
        FROM mg{t}
      ) WHERE coalesce(mprev, 0) = 0
    )"""
        )
    if final == "tokens":
        return (
            "WITH "
            + ",\n    ".join(ctes)
            + f"""
    SELECT word,
           CAST(length(word) AS INT) AS n_chars,
           CAST(count(*) AS INT) AS n_tokens,
           array_to_string(list(sym ORDER BY pos), ' ') AS tokens
    FROM l{_BPE_ROUNDS} GROUP BY word"""
        )
    if final == "roundtrip":
        return (
            "WITH "
            + ",\n    ".join(ctes)
            + f"""
    , per_word AS (
      SELECT word,
             CAST(count(*) AS INT) AS n_tokens,
             array_to_string(list(sym ORDER BY pos), '') AS rebuilt,
             sum(length(sym)) AS n_sym_chars
      FROM l{_BPE_ROUNDS} GROUP BY word
    )
    SELECT n_tokens,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN rebuilt = word THEN 1 ELSE 0 END) AS BIGINT)
             AS n_roundtrip_ok,
           CAST(sum(length(word)) AS BIGINT) AS n_word_chars,
           CAST(sum(n_sym_chars) AS BIGINT) AS n_token_chars
    FROM per_word GROUP BY n_tokens"""
        )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT {t + 1} AS rank, a AS lhs, b AS rhs, cnt AS pair_count FROM b{t}"
        for t in range(_BPE_ROUNDS)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(rank AS INT) AS rank, lhs, rhs, pair_count FROM (
    {union}
    )"""
    )


_BPE_CACHE = SessionDFCache("bpe_learn")


def _bpe_learn(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the BPE merge loop; returns (learned merges, final
    per-word symbol table (word, freq, pos, sym)).

    r14: session-cached — bpe_merges, bpe_tokenize and
    bpe_detok_roundtrip each consume the SAME {_BPE_ROUNDS}-round loop
    (driver argmax round trips included), so one build serves all
    three (the manifest/topic-cluster cache stance). The cache entry is
    (symbol table, merges): the table is the loop's own eager
    checkpoint, the merge tuple rides along unpinned."""
    l, merges = _BPE_CACHE.get_or_build(
        spark, sf_dir, lambda: _bpe_build(spark, sf_dir)
    )
    return list(merges), l


def _bpe_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, tuple[tuple[int, str, str, int], ...]]:
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tx.words(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    l = vocab.select(
        "word",
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> struct(i - 1 as pos, substring(word, i, 1) as sym))"
            )
        ).alias("x"),
    ).select("word", "freq", "x.pos", "x.sym")
    l = l.localCheckpoint(eager=True)

    w_pos = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple[int, str, str, int]] = []
    for t in range(_BPE_ROUNDS):
        prev_l = l
        pc = (
            l.select("freq", F.col("sym").alias("a"), F.lead("sym").over(w_pos).alias("b"))
            .filter(F.col("b").isNotNull())
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pc.orderBy(F.desc("cnt"), "a", "b").limit(1).collect()
        if not top:
            break  # every word fused to a single symbol
        best = top[0]
        merges.append((t + 1, best["a"], best["b"], int(best["cnt"])))
        x = l.select(
            "word",
            "freq",
            "pos",
            "sym",
            F.row_number().over(w_pos).alias("idx"),
            F.lead("sym").over(w_pos).alias("nxt"),
        ).withColumn(
            "hit",
            (
                (F.col("sym") == F.lit(best["a"]))
                & (F.col("nxt") == F.lit(best["b"]))
            ).cast("int"),
        )
        w_hit = Window.partitionBy("word", "hit").orderBy("idx")
        x = x.withColumn(
            "grp",
            F.when(F.col("hit") == 1, F.col("idx") - F.row_number().over(w_hit)),
        )
        w_grp = Window.partitionBy("word", "grp").orderBy("idx")
        x = x.withColumn(
            "merged",
            (
                (F.col("hit") == 1)
                & ((F.row_number().over(w_grp) - 1) % 2 == 0)
            ).cast("int"),
        )
        w_idx = Window.partitionBy("word").orderBy("idx")
        l = (
            x.withColumn("mprev", F.lag("merged").over(w_idx))
            .filter(F.coalesce(F.col("mprev"), F.lit(0)) == 0)
            .select(
                "word",
                "freq",
                "pos",
                F.when(
                    F.col("merged") == 1, F.concat(F.col("sym"), F.col("nxt"))
                )
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .localCheckpoint(eager=True)
        )
        # the new round's table is materialized; the previous round's
        # checkpoint blocks are dead weight now (the graph-loop stance)
        release_local_checkpoint(prev_l)

    return l, tuple(merges)


@query("bpe_merges", oracle=_bpe_oracle_sql())
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first `_BPE_ROUNDS` byte-pair-encoding merges from
    the corpus (Sennrich et al. 2016, public method — the training
    step behind GPT/Llama-style tokenizers; vocab_induction is the
    init, this is the merge loop). Each round: count adjacent symbol
    pairs weighted by word frequency, take the argmax (ties: count
    desc, then pair lexicographic), and apply the merge greedily
    left-to-right — overlapping occurrences of a same-symbol pair
    ('aaaa' under (a,a)) resolve by run parity, exactly as serial BPE
    trainers do. A serial reference trainer must produce identical
    merges (test_bpe_merges_match_serial_reference).

    Scale: like industrial BPE trainers, the loop runs over the
    WORD-COUNT table, not the corpus — state is vocabulary-bounded
    (Zipf), shrinks as symbols fuse, and every window partitions by
    word. Per round, exactly ONE row (the argmax pair) reaches the
    driver; lineage is cut per round with localCheckpoint (the
    functions/graph.py stance for iterative plans). The corpus
    itself is touched once, by the initial word count.

    Integer counts end-to-end make the oracle replication exact —
    no rounding anywhere."""
    merges, _ = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, pair_count long"
    )


@query("bpe_tokenize", oracle=_bpe_oracle_sql(final="tokens"))
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges: the inference side of
    bpe_merges — per vocabulary word, the resulting token sequence
    and its length after `_BPE_ROUNDS` merges (what a tokenizer
    encode() would emit, restricted to the learned table). Encoding
    documents then reduces to a broadcast word->tokens join onto the
    token stream — the per-word table IS the tokenizer, and it is
    vocabulary-bounded, so this stays cheap at any corpus size."""
    _, l = _bpe_learn(spark, sf_dir)
    return (
        l.groupBy("word")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "sym"))
                    ),
                    lambda s: s["sym"],
                ),
            ).alias("tokens"),
        )
        .select(
            "word",
            F.length("word").cast("int").alias("n_chars"),
            "n_tokens",
            "tokens",
        )
    )


@query("bpe_detok_roundtrip", oracle=_bpe_oracle_sql(final="roundtrip"))
def bpe_detok_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer LOSSLESSNESS audit: decode(encode(word)) == word
    for every vocabulary word — BPE merges only ever concatenate
    adjacent symbols, so concatenating a word's final symbols in
    position order must reproduce the word exactly; any miss means
    the merge-application algebra (run-parity overlap resolution,
    lag-based row drops) lost or duplicated characters. Reported per
    final token count: words, round-trip successes, and the
    character-conservation pair (word chars vs token chars — equal
    iff lossless at the aggregate level too).

    Scale: the vocab-bounded merge loop of bpe_merges (state shrinks
    per round, windows partition by word), one per-word fold, one
    tiny grouped aggregate. Output cardinality <= max word length."""
    _, l = _bpe_learn(spark, sf_dir)
    per_word = l.groupBy("word").agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda s: s["sym"],
            ),
        ).alias("rebuilt"),
        F.sum(F.length("sym")).cast("long").alias("n_sym_chars"),
    )
    return per_word.groupBy("n_tokens").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.when(F.col("rebuilt") == F.col("word"), 1).otherwise(0))
        .cast("long")
        .alias("n_roundtrip_ok"),
        F.sum(F.length("word")).cast("long").alias("n_word_chars"),
        F.sum("n_sym_chars").cast("long").alias("n_token_chars"),
    )


# ---------------------------------------------------------------------------
# Fuzzy matching / entity resolution (symmetric-delete blocking)
# ---------------------------------------------------------------------------

_FUZZ_MIN_LEN = 5  # only block words long enough for a stable typo


def _sql_del_variants(w: str) -> str:
    return (
        f"list_transform(range(length({w}) + 1), "
        f"i -> CASE WHEN i = length({w}) THEN {w} "
        f"ELSE substr({w}, 1, i) || substr({w}, i + 2) END)"
    )


@query(
    "fuzzy_word_matches",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT unnest({tx.SQL_WORDS.format(t='lower(text)')}) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    base AS (SELECT w FROM vocab WHERE length(w) >= {_FUZZ_MIN_LEN}),
    corpus AS (
      SELECT DISTINCT w FROM (
        SELECT w FROM base
        UNION ALL
        SELECT substr(w, 1, 2) || substr(w, 4) AS w FROM base
      )
    ),
    vars AS (
      SELECT w, unnest({_sql_del_variants('w')}) AS v FROM corpus
    ),
    cand AS (
      SELECT DISTINCT a.w AS word_a, b.w AS word_b
      FROM vars a JOIN vars b ON a.v = b.v AND a.w < b.w
    )
    SELECT word_a, word_b,
           CAST(levenshtein(word_a, word_b) AS INT) AS dist
    FROM cand WHERE levenshtein(word_a, word_b) <= 1
    """,
)
def fuzzy_word_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance with symmetric-delete
    blocking (Garbe's SymSpell, public method): candidate pairs must
    share a single-deletion variant — exact for distance <= 1, since
    a substitution/indel pair always shares one — then verified with
    levenshtein. The corpus is the document vocabulary plus planted
    char-3-deletion typos (the constructed-corpus pattern: testdata
    words have no organic typos).

    Scale: this is the fuzzy-join shape that replaces the O(V²)
    levenshtein cross join — each word explodes into |w|+1 variants
    (vocab-bounded), candidates come from a variant equi-join, and
    the expensive distance runs only on candidates. Both the variant
    generation and the verify are pure Column expressions; DuckDB's
    levenshtein agrees exactly (integer DP)."""
    d = load(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tx.words(F.lower(F.col("text")))).alias("w"))
        .distinct()
        .filter(F.length("w") >= _FUZZ_MIN_LEN)
    )
    typos = vocab.select(
        F.concat(
            F.substring("w", 1, 2), F.substr(F.col("w"), F.lit(4), F.length("w"))
        ).alias("w")
    )
    corpus = vocab.unionByName(typos).distinct()
    variants = F.transform(
        F.sequence(F.lit(0), F.length("w")),
        lambda i: F.when(i == F.length("w"), F.col("w")).otherwise(
            F.concat(
                F.substr(F.col("w"), F.lit(1), i),
                F.substr(F.col("w"), i + 2, F.length("w")),
            )
        ),
    )
    vars_ = corpus.select("w", F.explode(variants).alias("v"))
    a = vars_.select(F.col("w").alias("word_a"), "v")
    b = vars_.select(F.col("w").alias("word_b"), "v")
    cand = (
        a.join(b, "v")
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b")
        .distinct()
    )
    dist = F.levenshtein("word_a", "word_b")
    return cand.filter(dist <= 1).select(
        "word_a", "word_b", dist.cast("int").alias("dist")
    )


# ---------------------------------------------------------------------------
# DSIR importance weights + hashed linear classifier scoring
# ---------------------------------------------------------------------------

_DSIR_B = 512  # hashed n-gram feature buckets
_DSIR_TARGET_LANG = "en"  # stand-in target distribution (the "Wikipedia
# + books" side of DSIR); raw = the whole corpus
_DSIR_SELECT_K = 100  # resample size
_CLS_W_MOD = 2001  # pseudo-weight grid: ((h % 2001) - 1000) / 1000


_SQL_HASHED_FEATS_CTES = f"""base AS (
      SELECT doc_id, lang, {tx.SQL_WORDS.format(t='lower(text)')} AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    uni AS (SELECT doc_id, lang, unnest(ws) AS f FROM base),
    bi AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(ws)),
                    i -> ws[i] || ' ' || ws[i+1])) AS f
      FROM base WHERE len(ws) >= 2
    ),
    feats AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(f), 1, 8))::BIGINT % {_DSIR_B} AS b
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ),
    dk AS (
      SELECT doc_id, lang, b, count(*) AS c
      FROM feats GROUP BY doc_id, lang, b
    )"""


def _hashed_feats(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b): one row per unigram+bigram instance of the
    lowercased whitespace tokenization, hashed into `_DSIR_B` buckets
    with the engine's ONE portable hash (util.portable_id_hash) — the
    hashed n-gram featurization DSIR and fastText share. Pure Column
    exprs; the DuckDB twin is _SQL_HASHED_FEATS_CTES."""
    base = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", "lang", tx.words(F.lower(F.col("text"))).alias("ws")
    )
    uni = base.select("doc_id", "lang", F.explode("ws").alias("f"))
    bi = base.filter(F.size("ws") >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("ws", i), F.element_at("ws", i + 1)
                ),
            )
        ).alias("f"),
    )
    return uni.unionByName(bi).select(
        "doc_id", "lang", (portable_id_hash("f") % _DSIR_B).alias("b")
    )


def _doc_bucket_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b, c): per-document hashed-feature bucket counts
    — ONE keyed shuffle over the feature stream; every distribution
    below derives from this (docs x <=B)-sized table, never from a
    second pass over the corpus text."""
    return (
        _hashed_feats(docs)
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("c"))
    )


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_SQL_HASHED_FEATS_CTES},
    raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS ca FROM dk GROUP BY b),
    tgt AS (SELECT b, CAST(sum(c) AS BIGINT) AS ct FROM dk
            WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS na,
             CAST(sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN c ELSE 0 END)
                  AS BIGINT) AS nt
      FROM dk
    ),
    lam AS (
      SELECT r.b,
             ln((coalesce(t.ct, 0) + 1.0) / (tot.nt + {_DSIR_B}))
             - ln((r.ca + 1.0) / (tot.na + {_DSIR_B})) AS lam
      FROM raw r LEFT JOIN tgt t USING (b), tot
    ),
    sc AS (
      SELECT dk.doc_id,
             CAST(sum(dk.c) AS BIGINT) AS n_feats,
             sum(dk.c * lam.lam) AS lw
      FROM dk JOIN lam USING (b)
      GROUP BY dk.doc_id
    ),
    top AS (
      SELECT doc_id FROM sc
      ORDER BY round(lw, 6) DESC, doc_id LIMIT {_DSIR_SELECT_K}
    )
    SELECT sc.doc_id, sc.n_feats,
           round(sc.lw, 6) AS log_weight,
           round(sc.lw / sc.n_feats, 6) AS avg_log_ratio,
           CAST(CASE WHEN top.doc_id IS NULL THEN 0 ELSE 1 END AS INT)
             AS selected
    FROM sc LEFT JOIN top USING (doc_id)
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023 — the public DSIR method): featurize every document as hashed
    unigram+bigram bucket counts, fit two bag-of-hashed-ngrams
    distributions — target p (here the `_DSIR_TARGET_LANG` slice, the
    stand-in for "quality" data) and raw q (the whole corpus) — with
    add-one smoothing over the `_DSIR_B` buckets, and score each doc
    with the log importance weight sum_b c_b * (ln p_b - ln q_b).
    `selected` marks the top-`_DSIR_SELECT_K` resample (deterministic
    rank variant of DSIR's Gumbel draw: ORDER BY rounded weight, then
    doc_id). Emits (doc_id, n_feats, log_weight, avg_log_ratio,
    selected) for every doc so downstream mixing can reweight rather
    than hard-select.

    Scale: the corpus text is read ONCE into per-doc bucket counts
    (`_doc_bucket_counts`, one keyed shuffle); both distributions and
    the lambda = ln p - ln q table reduce from that to <= `_DSIR_B`
    rows (map-side combined, broadcast back); per-doc scoring is a
    broadcast join + one keyed sum. The resample is a
    TakeOrderedAndProject top-k (no global sort window) whose ids
    broadcast onto the score stream. State is O(B), corpus passes are
    linear — the exact deployment shape of DSIR at dataset scale."""
    dk = _doc_bucket_counts(load(spark, sf_dir, "documents"))
    is_tgt = F.col("lang") == _DSIR_TARGET_LANG
    raw = dk.groupBy("b").agg(
        F.sum("c").alias("ca"),
        F.sum(F.when(is_tgt, F.col("c")).otherwise(F.lit(0))).alias("ct"),
    )
    tot = raw.agg(
        F.sum("ca").alias("na"), F.sum("ct").alias("nt")
    )
    lam = raw.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1.0) / (F.col("nt") + _DSIR_B))
            - F.log((F.col("ca") + 1.0) / (F.col("na") + _DSIR_B))
        ).alias("lam"),
    )
    sc = (
        dk.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_feats"),
            F.sum(F.col("c") * F.col("lam")).alias("lw"),
        )
        # sc feeds both the top-k subquery and the final output; a
        # lazy checkpoint materializes the (id, long, 2 doubles) score
        # table once instead of re-running the corpus featurization
        # for each consumer (it IS the op's output — a real pipeline
        # writes it). Lazy, so building the plan stays side-effect-free
        .localCheckpoint(eager=False)
    )
    top = (
        sc.orderBy(F.round("lw", 6).desc(), "doc_id")
        .limit(_DSIR_SELECT_K)
        .select("doc_id", F.lit(1).alias("sel"))
    )
    return (
        sc.join(F.broadcast(top), "doc_id", "left")
        .select(
            "doc_id",
            "n_feats",
            F.round("lw", 6).alias("log_weight"),
            F.round(F.col("lw") / F.col("n_feats"), 6).alias("avg_log_ratio"),
            F.coalesce(F.col("sel"), F.lit(0)).cast("int").alias("selected"),
        )
    )


@query(
    "hashed_classifier_scores",
    oracle=f"""
    WITH {_SQL_HASHED_FEATS_CTES},
    wt AS (
      SELECT doc_id, c,
             ((('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 8))::BIGINT
               % {_CLS_W_MOD}) - {(_CLS_W_MOD - 1) // 2}) / {(_CLS_W_MOD - 1) // 2}.0
               AS w
      FROM dk
    ),
    sc AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats, sum(c * w) AS s
      FROM wt GROUP BY doc_id
    )
    SELECT doc_id, n_feats,
           round(s / n_feats, 6) AS logit,
           round(1.0 / (1.0 + exp(-(s / n_feats))), 6) AS prob,
           CAST(round(s / n_feats, 6) > 0 AS INT) AS positive
    FROM sc
    """,
)
def hashed_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier scoring (Joulin et al.
    2016; the quality-classifier deployment shape of CCNet / LLaMA
    data filtering): docs featurize to hashed unigram+bigram bucket
    counts, a per-bucket weight vector dots against them, and the mean
    activation passes through a sigmoid. No pretrained model ships in
    this env, so the weights are a DETERMINISTIC stand-in — bucket b's
    weight is ((portable_hash(b) % {_CLS_W_MOD}) - 1000) / 1000, a
    fixed pseudo-random grid both engines derive identically — which
    keeps the full plumbing (featurize -> weight lookup -> dot ->
    sigmoid -> threshold) real, tested, and oracle-checked; swapping
    in trained weights is a one-table substitution.

    Scale: reuses `_doc_bucket_counts` (one corpus pass, one keyed
    shuffle); the weight is a pure Column expression on the bucket id
    — no join at all — and scoring is one keyed sum. At 100 TB this
    is the cheapest per-doc scorer in the repo: linear scan, O(1)
    state, whole-stage codegen end to end."""
    half = (_CLS_W_MOD - 1) // 2
    dk = _doc_bucket_counts(load(spark, sf_dir, "documents"))
    wt = dk.withColumn(
        "w",
        ((portable_id_hash(F.col("b")) % _CLS_W_MOD) - F.lit(half))
        / F.lit(float(half)),
    )
    sc = wt.groupBy("doc_id").agg(
        F.sum("c").alias("n_feats"),
        F.sum(F.col("c") * F.col("w")).alias("s"),
    )
    logit = F.col("s") / F.col("n_feats")
    # `positive` thresholds the ROUNDED logit so the flag can never
    # disagree with the visible column. Float-parity stance (shared
    # with the LM scorers): the per-doc sums accumulate O(B) doubles,
    # so cross-engine error is ~1e-13 against a 0.5e-6 rounding grid —
    # the same accepted-risk class as unigram/bigram_lm_quality, not
    # the integer-grid discipline PQ needs for its argmin ties.
    return sc.select(
        "doc_id",
        "n_feats",
        F.round(logit, 6).alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("prob"),
        (F.round(logit, 6) > 0).cast("int").alias("positive"),
    )


# ---------------------------------------------------------------------------
# Filtering-cascade survival report
# ---------------------------------------------------------------------------

_CASCADE_STAGES = [
    (1, "nonempty"),
    (2, "word_count"),
    (3, "word_shape"),
    (4, "stopwords"),
    (5, "repetition"),
    (6, "exact_dedup"),
]


def _cascade_oracle_sql() -> str:
    stage_values = ", ".join(f"({i}, '{n}')" for i, n in _CASCADE_STAGES)
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_COPY_OFFSET} AS doc_id, text FROM documents
    ),
    t AS (
      SELECT doc_id, text, md5(text) AS h,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE {tx.SQL_WORDS.format(t='lower(text)')} END AS ws
      FROM corpus
    ),
    g AS (
      SELECT doc_id, text, h, ws,
             {tx.sql_ngrams('ws', 2)} AS bg,
             {tx.sql_ngrams('ws', 3)} AS tg
      FROM t
    ),
    m AS (
      SELECT doc_id, h,
             len(ws) AS n_words,
             round(CASE WHEN len(ws) = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len(ws)
             END, 4) AS mwl,
             round(CASE WHEN len(bg) = 0 THEN 0.0
                  ELSE list_max(list_transform(list_distinct(bg),
                         b -> len(list_filter(bg, x -> x = b)))) * 1.0 / len(bg)
             END, 6) AS tbf,
             round(CASE WHEN len(tg) = 0 THEN 0.0
                  ELSE (len(tg) - len(list_distinct(tg))) * 1.0 / len(tg)
             END, 6) AS dtf,
             len(list_intersect(list_distinct(ws),
                                {tx.sql_stopword_list('en')})) AS n_stop
      FROM g
    ),
    ff0 AS (
      SELECT doc_id, h,
             CASE WHEN n_words = 0 THEN 1
                  WHEN n_words NOT BETWEEN 10 AND 100000 THEN 2
                  WHEN mwl NOT BETWEEN 3 AND 10 THEN 3
                  WHEN n_stop < 2 THEN 4
                  WHEN tbf > 0.20 OR dtf > 0.30 THEN 5
                  ELSE 0 END AS ff
      FROM m
    ),
    ffin AS (
      SELECT doc_id,
             CASE WHEN ff > 0 THEN ff
                  WHEN sum(CASE WHEN ff = 0 THEN 1 ELSE 0 END) OVER (
                         PARTITION BY h ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) > 1 THEN 6
                  ELSE 0 END AS ff
      FROM ff0
    ),
    cnt AS (SELECT ff, count(*) AS c FROM ffin GROUP BY ff),
    stages AS (SELECT * FROM (VALUES {stage_values}) AS v(stage_idx, stage))
    SELECT s.stage_idx, s.stage,
           CAST(coalesce(sum(CASE WHEN cnt.ff = 0 OR cnt.ff >= s.stage_idx
                                  THEN cnt.c END), 0) AS BIGINT) AS n_in,
           CAST(coalesce(sum(CASE WHEN cnt.ff = s.stage_idx
                                  THEN cnt.c END), 0) AS BIGINT) AS n_rejected,
           CAST(coalesce(sum(CASE WHEN cnt.ff = 0 OR cnt.ff > s.stage_idx
                                  THEN cnt.c END), 0) AS BIGINT) AS n_out
    FROM stages s CROSS JOIN cnt
    GROUP BY s.stage_idx, s.stage
    """


@query("filter_cascade_report", oracle=_cascade_oracle_sql())
def filter_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtering-cascade survival funnel: the audit table a curation
    pipeline publishes alongside its output (how many docs entered
    each stage, how many each stage rejected, how many survived).
    Stages, in pipeline order: nonempty -> Gopher word-count bounds ->
    mean-word-length shape -> stopword evidence -> repetition
    occupancy -> exact (md5) dedup keeping the lowest doc_id among
    survivors. A doc is charged to the FIRST stage that rejects it
    (cascade semantics — later stages never see it), and dedup ranks
    only the docs that survived stages 1-5, exactly as the real
    pipeline would run it. Runs over the duplicate-injected corpus
    (documents ∪ exact copies, the repo's standard dedup fixture) so
    the dedup stage's rejections are visible at test SF. Thresholds
    apply to the ROUNDED metrics
    (round-4/round-6, same on both engines) so the stage assignment
    is bit-portable.

    Scale: one linear metric scan (gopher_stats' let-bound struct,
    evaluated once per row), one md5-keyed shuffle for the dedup rank
    (uniform hash, no skew), then the per-stage report reduces a
    <=7-row count table against a 6-row stage dimension — O(1) state,
    no corpus-wide windows."""
    from .ext import _dup_corpus

    d = _dup_corpus(widen_scan(load(spark, sf_dir, "documents")))
    m = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.inline(F.array(tx.gopher_stats(F.col("text")))),
    )
    ff0 = m.select(
        "doc_id",
        "h",
        F.when(F.col("n_words") == 0, 1)
        .when(~F.col("n_words").between(10, 100000), 2)
        .when(~F.col("mean_word_len").between(3, 10), 3)
        .when(F.col("n_stopword_types") < 2, 4)
        .when(
            (F.col("top_bigram_frac") > 0.20)
            | (F.col("dup_trigram_frac") > 0.30),
            5,
        )
        .otherwise(0)
        .alias("ff"),
    )
    # survivor rank WITHOUT a self-join (a rank-then-join formulation
    # re-evaluates the whole interpreted metric scan on both join
    # inputs — measured 2x the query): a running count of survivors
    # within each hash group gives, at each survivor row, its 1-based
    # rank among survivors; one window, one metric scan
    w_h = (
        Window.partitionBy("h")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    surv_rank = F.sum(
        F.when(F.col("ff") == 0, 1).otherwise(0)
    ).over(w_h)
    ffin = ff0.select(
        "doc_id",
        F.when(F.col("ff") > 0, F.col("ff"))
        .when(surv_rank > 1, 6)
        .otherwise(0)
        .alias("ff"),
    )
    cnt = ffin.groupBy("ff").agg(F.count("*").alias("c"))
    stages = spark.createDataFrame(
        _CASCADE_STAGES, "stage_idx int, stage string"
    )
    idx = F.col("stage_idx")
    return (
        stages.crossJoin(F.broadcast(cnt))
        .groupBy("stage_idx", "stage")
        .agg(
            F.coalesce(
                F.sum(
                    F.when((F.col("ff") == 0) | (F.col("ff") >= idx), F.col("c"))
                ),
                F.lit(0),
            ).alias("n_in"),
            F.coalesce(
                F.sum(F.when(F.col("ff") == idx, F.col("c"))), F.lit(0)
            ).alias("n_rejected"),
            F.coalesce(
                F.sum(
                    F.when((F.col("ff") == 0) | (F.col("ff") > idx), F.col("c"))
                ),
                F.lit(0),
            ).alias("n_out"),
        )
    )


# ---------------------------------------------------------------------------
# Round 8: classifier evaluation report (binned ROC / AUC / calibration)
# ---------------------------------------------------------------------------

_EVAL_BINS = 20  # logit in [-1, 1] -> 0.1-wide score bins


@query(
    "classifier_eval_report",
    oracle=f"""
    WITH {_SQL_HASHED_FEATS_CTES},
    wt AS (
      SELECT doc_id, lang, c,
             ((('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 8))::BIGINT
               % {_CLS_W_MOD}) - {(_CLS_W_MOD - 1) // 2}) / {(_CLS_W_MOD - 1) // 2}.0
               AS w
      FROM dk
    ),
    sc AS (
      SELECT doc_id,
             max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS label,
             round(sum(c * w) / sum(c), 6) AS score
      FROM wt GROUP BY doc_id
    ),
    binned AS (
      SELECT least(greatest(CAST(floor((score + 1.0) / 0.1) AS INT) + 1, 1),
                   {_EVAL_BINS}) AS bin,
             label
      FROM sc
    ),
    per_bin AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos
      FROM binned GROUP BY bin
    ),
    cum AS (
      SELECT bin, n, n_pos,
             sum(n_pos) OVER (ORDER BY bin DESC) AS cp,
             sum(n - n_pos) OVER (ORDER BY bin DESC) AS cn,
             sum(n_pos) OVER () AS p,
             sum(n - n_pos) OVER () AS nn
      FROM per_bin
    )
    SELECT bin, n, n_pos,
           round(n_pos * 1.0 / n, 6) AS pos_rate,
           round(cp * 1.0 / nullif(p, 0), 6) AS tpr,
           round(cn * 1.0 / nullif(nn, 0), 6) AS fpr,
           round(sum((n - n_pos) * (2 * cp - n_pos)) OVER ()
                 * 1.0 / nullif(2 * p * nn, 0), 6) AS auc
    FROM cum
    """,
)
def classifier_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier EVALUATION report — binned ROC curve, AUC, and
    calibration table for the hashed linear scorer against an
    'is-English' reference label (lang = 'en'): one row per 0.1-wide
    score bin with its observed positive rate (the calibration
    column) and the cumulative TPR/FPR at that score cut (the ROC
    points), plus the trapezoidal AUC. The label is a substitution
    point exactly like the classifier's hash-grid weights: swapping
    in real labels (human QA, LLM judgments) changes one expression,
    and the whole eval machinery — the readout a filtering team
    checks before trusting classifier-based selection — stays
    oracle-verified. Standard binned-ROC method (Fawcett 2006, 'An
    introduction to ROC analysis', public).

    AUC parity trick: the trapezoid sum stays in INTEGER arithmetic —
    sum over bins of neg_k * (2*cum_pos_k - pos_k) equals 2 * P * N *
    AUC exactly — so both engines divide the identical integer by the
    identical integer; every emitted rate is one rounded division of
    integer counts. No float accumulates across rows anywhere.

    Scale: reuses the classifier's single corpus pass (one keyed
    shuffle to doc scores); binning is a pure projection and every
    window runs over the {_EVAL_BINS}-row bin table."""
    half = (_CLS_W_MOD - 1) // 2
    dk = _doc_bucket_counts(widen_scan(load(spark, sf_dir, "documents")))
    wt = dk.withColumn(
        "w",
        ((portable_id_hash(F.col("b")) % _CLS_W_MOD) - F.lit(half))
        / F.lit(float(half)),
    )
    sc = wt.groupBy("doc_id").agg(
        F.max(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("label"),
        F.round(
            F.sum(F.col("c") * F.col("w")) / F.sum("c"), 6
        ).alias("score"),
    )
    bin_col = F.least(
        F.greatest(
            F.floor((F.col("score") + 1.0) / 0.1).cast("int") + 1, F.lit(1)
        ),
        F.lit(_EVAL_BINS),
    )
    per_bin = (
        sc.select(bin_col.alias("bin"), "label")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
        )
    )
    w_desc = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = per_bin.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n_pos").over(w_desc).alias("cp"),
        F.sum(F.col("n") - F.col("n_pos")).over(w_desc).alias("cn"),
        F.sum("n_pos").over(wall).alias("p"),
        F.sum(F.col("n") - F.col("n_pos")).over(wall).alias("nn"),
    )
    nz = lambda c: F.when(c != 0, c)  # noqa: E731 — nullif twin
    return cum.select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("n_pos") * 1.0 / F.col("n"), 6).alias("pos_rate"),
        F.round(F.col("cp") * 1.0 / nz(F.col("p")), 6).alias("tpr"),
        F.round(F.col("cn") * 1.0 / nz(F.col("nn")), 6).alias("fpr"),
        F.round(
            F.sum(
                (F.col("n") - F.col("n_pos"))
                * (2 * F.col("cp") - F.col("n_pos"))
            ).over(wall)
            * 1.0
            / nz(2 * F.col("p") * F.col("nn")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Round 9: inter-classifier agreement (Cohen's kappa)
# ---------------------------------------------------------------------------

_KAPPA_Q_MIN = 0.7  # classifier A: composite quality threshold
_KAPPA_SW_MIN = 3   # classifier B: distinct-en-stopword threshold


@query(
    "classifier_agreement_kappa",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             length(text) AS n_chars,
             {tx.sql_token_count_ws('text')} AS n_words,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
               AS n_punct,
             {tx.sql_lang_score('text', 'en')} AS sw
      FROM documents
    ),
    lab AS (
      SELECT CASE WHEN round(
               0.4 * least(n_words / 100.0, 1.0)
             + 0.3 * (CASE WHEN n_words > 0
                            AND n_chars * 1.0 / n_words BETWEEN 3 AND 12
                           THEN 1.0 ELSE 0.5 END)
             + 0.3 * (1.0 - least((CASE WHEN n_chars = 0 THEN 0.0
                                        ELSE n_punct * 1.0 / n_chars END)
                                  * 4, 1.0)), 4) >= {_KAPPA_Q_MIN}
             THEN 1 ELSE 0 END AS a,
             CASE WHEN sw >= {_KAPPA_SW_MIN} THEN 1 ELSE 0 END AS b
      FROM t
    ),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a * b) AS BIGINT) AS n11,
             CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
             CAST(sum((1 - a) * b) AS BIGINT) AS n01,
             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM lab
    )
    SELECT n, n11, n10, n01, n00,
           round((n11 + n00) * 1.0 / n, 6) AS p_observed,
           round(((n11 + n10) * (n11 + n01)
                + (n01 + n00) * (n10 + n00)) * 1.0 / (n * n), 6)
             AS p_expected,
           CASE WHEN ((n11 + n10) * (n11 + n01)
                    + (n01 + n00) * (n10 + n00)) = n * n THEN NULL
                ELSE round(
                  ((n11 + n00) * 1.0 / n
                   - ((n11 + n10) * (n11 + n01)
                    + (n01 + n00) * (n10 + n00)) * 1.0 / (n * n))
                  / (1.0 - ((n11 + n10) * (n11 + n01)
                          + (n01 + n00) * (n10 + n00)) * 1.0 / (n * n)),
                  6)
           END AS kappa
    FROM c
    """,
)
def classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa agreement between two independent document
    classifiers (Cohen 1960, the standard chance-corrected agreement
    statistic; used to validate weak labelers / annotator pools
    before trusting either for curation): classifier A = composite
    quality score >= {_KAPPA_Q_MIN}, classifier B = distinct English
    stopword count >= {_KAPPA_SW_MIN}. kappa = (p_o - p_e) / (1 -
    p_e) with p_e from the marginal label rates; NULL when chance
    agreement is exact (p_e = 1, kappa undefined).

    Scale: ONE corpus scan -> per-doc binary labels -> a 4-cell
    integer confusion aggregate (map-side combinable); the kappa
    algebra runs on that single exact-integer row, so there is no
    float-summation-order hazard anywhere."""
    d = load(spark, sf_dir, "documents")
    lab = d.select(
        (tx.quality_score(F.col("text")) >= _KAPPA_Q_MIN)
        .cast("int")
        .alias("a"),
        (tx.lang_score(F.col("text"), "en") >= _KAPPA_SW_MIN)
        .cast("int")
        .alias("b"),
    )
    c = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )
    pe_num = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    po = (F.col("n11") + F.col("n00")) * 1.0 / F.col("n")
    pe = pe_num * 1.0 / (F.col("n") * F.col("n"))
    return c.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.when(pe_num == F.col("n") * F.col("n"), F.lit(None).cast("double"))
        .otherwise(F.round((po - pe) / (1.0 - pe), 6))
        .alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Round 9: corpus-health scaling laws — Zipf rank-frequency fit and
# Good-Turing unseen-mass estimate
# ---------------------------------------------------------------------------

_ZIPF_K = 100  # fit over the top-K vocabulary ranks

_SQL_TFREQ = f"""toks AS (
      SELECT unnest({tx.SQL_WORDS.format(t='lower(text)')}) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    tfreq AS (
      SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY w
    )"""


@query(
    "zipf_law_fit",
    oracle=f"""
    WITH {_SQL_TFREQ},
    topk AS (SELECT w, f FROM tfreq ORDER BY f DESC, w LIMIT {_ZIPF_K}),
    ranked AS (
      SELECT f, CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT) AS r
      FROM topk
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(18, 9)) AS x,
             CAST(round(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(18, 9)) AS y
      FROM ranked
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pts
    )
    SELECT n AS k_terms,
           CASE WHEN n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
                THEN NULL
                ELSE round((n * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (n * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                           6)
           END AS zipf_slope,
           CASE WHEN n * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
                THEN NULL
                ELSE round((CAST(sy AS DOUBLE)
                            - (n * CAST(sxy AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                              / (n * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * CAST(sx AS DOUBLE)) / n, 6)
           END AS intercept,
           CASE WHEN (n * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (n * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) = 0
                THEN NULL
                ELSE round((n * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           * (n * CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / ((n * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (n * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                           6)
           END AS r2
    FROM s
    """,
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit (Zipf 1949; standard corpus-health
    diagnostic — natural text fits ln(freq) ~ intercept + slope *
    ln(rank) with slope near -1 and high r2; template/synthetic spam
    flattens the curve): OLS over the top-{_ZIPF_K} vocabulary ranks
    on the log-log scale, emitting slope, intercept, and r2.

    Float parity: the top-K cutoff is a TOTAL order (freq DESC, term)
    so both engines pick identical terms; ln(rank)/ln(freq) round to
    9dp (killing libm last-ulp skew) and every OLS sufficient
    statistic is an exact DECIMAL sum of those rounded points — the
    closed-form slope/r2 algebra then runs on identical doubles (the
    ab_test_welch rounded-sufficient-statistics stance).

    Scale: term frequencies are one map-side-combinable vocab-keyed
    aggregate; the top-K is TakeOrdered (per-partition heaps, never a
    full vocabulary sort); ranking and OLS run on the {_ZIPF_K}-row
    table."""
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tfreq = (
        d.select(F.explode(tx.words(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    topk = tfreq.orderBy(F.col("f").desc(), "w").limit(_ZIPF_K)
    wr = Window.orderBy(F.col("f").desc(), "w")
    pts = topk.select(
        F.round(F.log(F.row_number().over(wr).cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(F.log(F.col("f").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    dxx = n * sxx - sx * sx
    dyy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope = cov / dxx
    return s.select(
        n.alias("k_terms"),
        F.when(dxx == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("zipf_slope"),
        F.when(dxx == 0, F.lit(None).cast("double"))
        .otherwise(F.round((sy - slope * sx) / n, 6))
        .alias("intercept"),
        F.when(dxx * dyy == 0, F.lit(None).cast("double"))
        .otherwise(F.round(cov * cov / (dxx * dyy), 6))
        .alias("r2"),
    )


@query(
    "good_turing_unseen_mass",
    oracle=f"""
    WITH {_SQL_TFREQ}
    SELECT CAST(sum(f) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_types,
           CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS doubleton_types,
           round(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1.0 / sum(f), 9)
             AS unseen_mass
    FROM tfreq
    """,
)
def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing missing-mass estimate (Good 1953, public method):
    the probability the NEXT token drawn is an unseen word type is
    estimated by n1/N — singleton types over total tokens — the
    standard answer to "is this corpus big enough for its domain, or
    is the vocabulary still growing?" (high unseen mass = more data
    keeps adding new words; near zero = vocabulary saturated).
    Doubleton counts are emitted for the GT-smoothed singleton mass
    (2*n2/N) a consumer may derive. Companion to `zipf_law_fit` in
    the corpus scaling-law pair.

    Float parity: every statistic is an exact BIGINT; unseen_mass is
    one bigint/bigint double division rounded to 9dp.

    Scale: one token explode -> one vocab-keyed count -> one global
    1-row reduce (all map-side combinable)."""
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tfreq = (
        d.select(F.explode(tx.words(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    return tfreq.agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum((F.col("f") == 1).cast("int")).cast("long").alias(
            "singleton_types"
        ),
        F.sum((F.col("f") == 2).cast("int")).cast("long").alias(
            "doubleton_types"
        ),
        F.round(
            F.sum((F.col("f") == 1).cast("int")) * 1.0 / F.sum("f"), 9
        ).alias("unseen_mass"),
    )


# ---------------------------------------------------------------------------
# PMI collocations (round 10)
# ---------------------------------------------------------------------------

_PMI_MIN_COUNT = 5   # bigram support floor (kills ln(tiny-count) noise)
_PMI_TOPK = 50


@query(
    "pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({tx.SQL_WORDS.format(t="lower(text)")}) AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM toks GROUP BY w),
    nu AS (SELECT CAST(count(*) AS BIGINT) AS n_uni FROM toks),
    ws_t AS (
      SELECT {tx.SQL_WORDS.format(t="lower(text)")} AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    big AS (
      SELECT unnest({tx.sql_ngrams("ws", 2)}) AS bg FROM ws_t
    ),
    bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS n_ab FROM big GROUP BY bg),
    nb AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi FROM bgc),
    scored AS (
      SELECT split_part(bg, ' ', 1) AS w1,
             split_part(bg, ' ', 2) AS w2,
             n_ab,
             ln((CAST(n_ab AS DOUBLE) * n_uni * n_uni)
                / (CAST(n_bi AS DOUBLE) * a.n_w * b.n_w)) AS pmi
      FROM bgc
      JOIN uni a ON a.w = split_part(bg, ' ', 1)
      JOIN uni b ON b.w = split_part(bg, ' ', 2)
      CROSS JOIN nu CROSS JOIN nb
      WHERE n_ab >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, n_ab, round(pmi, 6) AS pmi
    FROM scored
    ORDER BY round(pmi, 9) DESC, w1, w2
    LIMIT {_PMI_TOPK}
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information (Church
    & Hanks 1990, public method): adjacent-bigram PMI =
    ln(P(ab) / (P(a)P(b))) with unigram probabilities over the token
    stream and bigram probabilities over adjacent positions, support
    floor n_ab >= {_PMI_MIN_COUNT}, global top-{_PMI_TOPK} — the
    phrase-mining/tokenizer-merge-candidate step of a corpus pipeline
    (BPE merges rank by raw pair count; PMI surfaces *statistically
    surprising* pairs instead).

    Float stance: all counts are exact BIGINTs; the PMI ratio is ONE
    double expression tree (products round deterministically — no
    sum-order hazard) feeding ONE ln per row, rounded at 6 dp (ranked
    at 9 dp, id tie-broken) — the BM25-idf precedent for cross-engine
    libm calls.

    Scale: two map-side-combinable count aggregates (unigrams keyed
    by word, bigrams by pair) + keyed joins of the bigram table to
    the unigram table; 1-row totals broadcast. The global top-k is
    TakeOrderedAndProject, never a full sort."""
    # widened by A/B (r10, BENCH_NOTES_r10.md): the token/bigram
    # explodes pipeline onto the single-row-group scan task(s) and
    # serialize before the first shuffle — x10 probe 6.2 s -> 2.0 s
    # widened; no AQE-broadcast consumer downstream to break
    d = widen_scan(
        load(spark, sf_dir, "documents").filter(
            F.length(F.trim(F.col("text"))) > 0
        )
    )
    toks = d.select(F.explode(tx.words(F.lower(F.col("text")))).alias("w"))
    # r14: uni fed BOTH join sides and the token total re-exploded the
    # corpus a second time; bgc fed the pair table AND the bigram
    # total — 4 full explode passes per action (10 scans). Pin the
    # vocab-bounded count tables once and take n_uni = sum(n_w) (the
    # identical integer — total tokens IS the sum of per-word counts),
    # so the corpus is exploded exactly twice: once per n-gram order
    # (guide §2.3 aggregate-before-reuse, §3.3).
    uni = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_w")
    ).localCheckpoint(eager=False)
    nu = uni.agg(F.sum("n_w").cast("long").alias("n_uni"))
    big = d.select(
        F.explode(tx._ngrams(tx.words(F.lower(F.col("text"))), 2)).alias("bg")
    )
    bgc = big.groupBy("bg").agg(
        F.count(F.lit(1)).cast("long").alias("n_ab")
    ).localCheckpoint(eager=False)
    nb = bgc.agg(F.sum("n_ab").cast("long").alias("n_bi"))
    pairs = (
        bgc.filter(F.col("n_ab") >= _PMI_MIN_COUNT)
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
    )
    a = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a"))
    b = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))
    pmi = F.log(
        (F.col("n_ab").cast("double") * F.col("n_uni") * F.col("n_uni"))
        / (F.col("n_bi").cast("double") * F.col("n_a") * F.col("n_b"))
    )
    return (
        pairs.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1", "w2", "n_ab",
            F.round(pmi, 6).alias("pmi"),
            F.round(pmi, 9).alias("_r9"),
        )
        .orderBy(F.col("_r9").desc(), "w1", "w2")
        .limit(_PMI_TOPK)
        .drop("_r9")
    )


# ---------------------------------------------------------------------------
# Readability report (round 10)
# ---------------------------------------------------------------------------


@query(
    "readability_by_source",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             CAST(len({tx.SQL_WORDS.format(t="text")}) AS BIGINT) AS words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS sentences,
             CAST(greatest(len(regexp_extract_all(lower(text),
               '[aeiouy]+')), 1) AS BIGINT) AS syllables
      FROM documents WHERE length(trim(text)) > 0
    ),
    agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             sum(words) AS w, sum(sentences) AS s, sum(syllables) AS sy
      FROM scored GROUP BY source
    )
    SELECT source, n_docs,
           round(w * 1.0 / s, 4) AS words_per_sentence,
           round(sy * 1.0 / w, 4) AS syllables_per_word,
           round(206.835 - 1.015 * (w * 1.0 / s)
                 - 84.6 * (sy * 1.0 / w), 4) AS flesch_reading_ease,
           round(0.39 * (w * 1.0 / s) + 11.8 * (sy * 1.0 / w) - 15.59, 4)
             AS fk_grade
    FROM agg ORDER BY source
    """,
)
def readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source readability report — Flesch reading ease and
    Flesch-Kincaid grade (Flesch 1948 / Kincaid 1975, public
    formulas), the curation signal that separates legalese and
    machine-generated boilerplate from conversational text. Syllables
    use the standard vowel-group approximation (runs of [aeiouy]),
    sentences the terminal-punctuation-run count, both with a floor
    of 1 so fragments don't divide by zero; the SAME regexes run in
    both engines (regexp_count / regexp_extract_all parity pinned by
    the oracle).

    The corpus-level ratio convention (sum words / sum sentences, as
    in the original readability literature) keeps everything in
    integer sums — no per-doc float averages to order-drift.

    Scale: one linear scan with three regexp counters fused into the
    projection, one map-side-combinable aggregate on the bounded
    source key."""
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    scored = d.select(
        "source",
        F.size(tx.words(F.col("text"))).cast("long").alias("words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
        )
        .cast("long")
        .alias("sentences"),
        F.greatest(
            F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+")),
            F.lit(1),
        )
        .cast("long")
        .alias("syllables"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").alias("w"),
        F.sum("sentences").alias("s"),
        F.sum("syllables").alias("sy"),
    )
    wps = F.col("w") * 1.0 / F.col("s")
    spw = F.col("sy") * 1.0 / F.col("w")
    return agg.select(
        "source",
        "n_docs",
        F.round(wps, 4).alias("words_per_sentence"),
        F.round(spw, 4).alias("syllables_per_word"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias(
            "flesch_reading_ease"
        ),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Isotonic calibration map (round 10)
# ---------------------------------------------------------------------------


@query(
    "isotonic_calibration_map",
    oracle=f"""
    WITH {_SQL_HASHED_FEATS_CTES},
    wt AS (
      SELECT doc_id, lang, c,
             ((('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 8))::BIGINT
               % {_CLS_W_MOD}) - {(_CLS_W_MOD - 1) // 2}) / {(_CLS_W_MOD - 1) // 2}.0
               AS w
      FROM dk
    ),
    sc AS (
      SELECT doc_id,
             max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS label,
             round(sum(c * w) / sum(c), 6) AS score
      FROM wt GROUP BY doc_id
    ),
    per_bin AS (
      SELECT least(greatest(CAST(floor((score + 1.0) / 0.1) AS INT) + 1, 1),
                   {_EVAL_BINS}) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos
      FROM sc GROUP BY bin
    ),
    pre AS (
      SELECT bin, n, n_pos,
             sum(n) OVER (ORDER BY bin) AS cn,
             sum(n_pos) OVER (ORDER BY bin) AS cp
      FROM per_bin
    ),
    intervals AS (
      SELECT a.bin AS bi, b.bin AS bj,
             (b.cp - a.cp + a.n_pos) * 1.0 / (b.cn - a.cn + a.n) AS avgr
      FROM pre a JOIN pre b ON a.bin <= b.bin
    ),
    minj AS (
      SELECT i.bi, k.bin AS k, min(i.avgr) AS mn
      FROM intervals i JOIN per_bin k
        ON i.bi <= k.bin AND k.bin <= i.bj
      GROUP BY i.bi, k.bin
    ),
    iso AS (
      SELECT k AS bin, max(mn) AS iso_raw FROM minj GROUP BY k
    )
    SELECT p.bin, p.n, p.n_pos,
           round(p.n_pos * 1.0 / p.n, 6) AS raw_rate,
           round(iso.iso_raw, 6) AS iso_rate
    FROM per_bin p JOIN iso USING (bin)
    ORDER BY p.bin
    """,
)
def isotonic_calibration_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the hashed
    linear classifier's score bins — pool-adjacent-violators via the
    closed-form minimax identity iso_k = max_(i<=k) min_(j>=k)
    weightedmean(pos, [i..j]) (Robertson, Wright & Dykstra 1988,
    public; the calibration map Platt-vs-isotonic comparisons use).
    Unlike the raw per-bin rates of classifier_eval_report, iso_rate
    is guaranteed monotone in the score and is what a selection
    pipeline thresholds on.

    The minimax form turns the sequential PAV pooling loop into pure
    relational algebra over the BOUNDED bin table: interval means
    from two cumulative sums ({_EVAL_BINS} x {_EVAL_BINS} / 2
    intervals), one (interval x bin) containment join
    (~{_EVAL_BINS}**3 / 2 rows — constants, independent of corpus
    size), min then max. Every interval mean is an exact integer
    ratio, so both engines compare identical doubles.

    Scale: the corpus pass is the classifier's single keyed shuffle;
    everything after runs on <= {_EVAL_BINS} rows."""
    half = (_CLS_W_MOD - 1) // 2
    dk = _doc_bucket_counts(widen_scan(load(spark, sf_dir, "documents")))
    wt = dk.withColumn(
        "w",
        ((portable_id_hash(F.col("b")) % _CLS_W_MOD) - F.lit(half))
        / F.lit(float(half)),
    )
    sc = wt.groupBy("doc_id").agg(
        F.max(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("label"),
        F.round(F.sum(F.col("c") * F.col("w")) / F.sum("c"), 6).alias(
            "score"
        ),
    )
    bin_col = F.least(
        F.greatest(
            F.floor((F.col("score") + 1.0) / 0.1).cast("int") + 1, F.lit(1)
        ),
        F.lit(_EVAL_BINS),
    )
    per_bin = (
        sc.select(bin_col.alias("bin"), "label")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
        )
        # r14: per_bin (<= _EVAL_BINS rows) feeds pre (BOTH sides of
        # the interval self-join), ks and the output join — unpinned,
        # the corpus classifier pass ran 4x (16 scans). One execution
        # (guide §3.3).
        .localCheckpoint(eager=False)
    )
    wc = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = per_bin.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(wc).alias("cn"),
        F.sum("n_pos").over(wc).alias("cp"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    intervals = a.join(b, F.col("a.bin") <= F.col("b.bin")).select(
        F.col("a.bin").alias("bi"),
        F.col("b.bin").alias("bj"),
        (
            (F.col("b.cp") - F.col("a.cp") + F.col("a.n_pos")) * 1.0
            / (F.col("b.cn") - F.col("a.cn") + F.col("a.n"))
        ).alias("avgr"),
    )
    ks = per_bin.select(F.col("bin").alias("k"))
    minj = (
        intervals.join(
            F.broadcast(ks),
            (F.col("bi") <= F.col("k")) & (F.col("k") <= F.col("bj")),
        )
        .groupBy("bi", "k")
        .agg(F.min("avgr").alias("mn"))
    )
    iso = minj.groupBy(F.col("k").alias("bin")).agg(
        F.max("mn").alias("iso_raw")
    )
    return (
        per_bin.join(iso, "bin")
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(F.col("n_pos") * 1.0 / F.col("n"), 6).alias("raw_rate"),
            F.round("iso_raw", 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Lexical diversity per source (round 11)
# ---------------------------------------------------------------------------


@query(
    "lexical_diversity_report",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest({tx.SQL_WORDS.format(t="lower(text)")})
               AS w
      FROM documents WHERE length(trim(text)) > 0
    ),
    tf AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY source, w
    ),
    docs AS (
      SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM toks GROUP BY source
    )
    SELECT t.source, d.n_docs,
           CAST(sum(t.c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN t.c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           round(count(*) * 1.0 / sum(t.c), 6) AS ttr,
           round(count(*) * 1.0 / sqrt(sum(t.c)), 6) AS guiraud_r,
           round(sum(CASE WHEN t.c = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS hapax_share,
           round(sum(CASE WHEN t.df = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS single_doc_type_share
    FROM tf t JOIN docs d USING (source)
    GROUP BY t.source, d.n_docs
    """,
)
def lexical_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity readout — the corpus-health
    metrics a data team checks before mixing sources: type-token
    ratio, Guiraud's R = types/sqrt(tokens) (the length-corrected TTR
    — raw TTR shrinks mechanically with corpus size), hapax share
    (Zipf tail mass: near-zero means templated/duplicated text), and
    the share of types confined to a single document (template
    detector's complement: LOW means heavy cross-doc repetition).

    Determinism: all counts are exact integers; the four ratios are
    single rounded divisions of identical integers.

    Scale: one explode into a (source, word)-keyed
    map-side-combinable aggregate (countDistinct(doc_id) rides the
    same shuffle as a two-phase distinct-then-count), then a
    source-keyed rollup over the vocabulary table. No windows, no
    full-vocab sorts."""
    t = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            "source",
            F.explode(tx.words(F.lower(F.col("text")))).alias("w"),
        )
    )
    tf = t.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    docs = t.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return (
        tf.join(docs, "source")
        .groupBy("source", "n_docs")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            hapax.cast("long").alias("n_hapax"),
            F.round(F.count(F.lit(1)) * 1.0 / F.sum("c"), 6).alias("ttr"),
            F.round(
                F.count(F.lit(1)) * 1.0 / F.sqrt(F.sum("c")), 6
            ).alias("guiraud_r"),
            F.round(hapax * 1.0 / F.count(F.lit(1)), 6).alias(
                "hapax_share"
            ),
            F.round(
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("single_doc_type_share"),
        )
    )


# ---------------------------------------------------------------------------
# Code-vs-prose detection (round 11)
# ---------------------------------------------------------------------------
#
# The mix-separation step before building a code-aware training
# mixture: prose corpora polluted with source code (or vice versa)
# skew tokenizer stats and quality filters, so pipelines score each
# document's "code-ness" from symbol density and keyword hits and
# route by threshold (public heuristic family: StarCoder/The Stack
# preprocessing). Pure Column regex algebra, both engines identical.

_CODE_SYMBOLS = r"[{}()\[\];=<>]"
_CODE_KEYWORDS = (
    r"\b(def|class|return|import|function|var|const|void|int|for|while"
    r"|if|else|public|static)\b"
)
_CODE_SYMBOL_THR = 0.05  # symbols per char
_CODE_KW_THR = 2.0  # keyword hits per 100 tokens


@query(
    "code_detection_report",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len({tx.SQL_WORDS.format(t="text")}) AS BIGINT)
               AS n_tokens,
             CAST(len(regexp_extract_all(text, '{_CODE_SYMBOLS}'))
               AS BIGINT) AS n_symbols,
             CAST(len(regexp_extract_all(text, '{_CODE_KEYWORDS}'))
               AS BIGINT) AS n_keywords
      FROM documents WHERE length(trim(text)) > 0
    ),
    flagged AS (
      SELECT source, n_chars, n_tokens, n_symbols, n_keywords,
             CASE WHEN n_symbols * 1.0 / n_chars > {_CODE_SYMBOL_THR}
                       AND n_keywords * 100.0 / nullif(n_tokens, 0)
                           > {_CODE_KW_THR}
                  THEN 1 ELSE 0 END AS is_codeish
      FROM scored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_codeish) AS BIGINT) AS n_codeish,
           round(sum(is_codeish) * 1.0 / count(*), 6) AS codeish_share,
           round(sum(n_symbols) * 1.0 / sum(n_chars), 6)
             AS symbol_density,
           round(sum(n_keywords) * 100.0 / nullif(sum(n_tokens), 0), 6)
             AS keywords_per_100_tokens
    FROM flagged GROUP BY source
    """,
)
def code_detection_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signal per source: symbol density
    (braces/brackets/semicolons/operators per char) AND programming-
    keyword rate per 100 tokens; a document is 'codeish' when both
    clear their thresholds (conjunctive — prose with heavy
    punctuation or code-free mentions of 'class' alone do not trip
    it). The separation step before a code-aware training mixture.

    Determinism: integer regex-hit counts on identical RE2-subset
    patterns; flags from exact integer ratios; corpus-ratio rollups
    rounded at 6dp.

    Scale: one scan, per-row regexp counts inside codegen, one
    source-keyed map-side-combinable aggregate. No joins, no
    windows."""
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    scored = d.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        F.size(tx.words(F.col("text"))).cast("long").alias("n_tokens"),
        F.regexp_count("text", F.lit(_CODE_SYMBOLS))
        .cast("long")
        .alias("n_symbols"),
        F.regexp_count("text", F.lit(_CODE_KEYWORDS))
        .cast("long")
        .alias("n_keywords"),
    )
    # nullif on n_tokens: a doc that is non-blank after trim can still
    # tokenize to ZERO words (symbol-only text, e.g. "{};;"), and x/0
    # is NaN/Inf under Spark's non-ANSI division but an error or NULL
    # elsewhere — NULL-ing the ratio makes the conjunctive flag a
    # deterministic 0 in both engines (same stance as ab_power_mde)
    is_codeish = F.when(
        (F.col("n_symbols") * 1.0 / F.col("n_chars") > _CODE_SYMBOL_THR)
        & (
            F.col("n_keywords")
            * 100.0
            / F.nullif(F.col("n_tokens"), F.lit(0))
            > _CODE_KW_THR
        ),
        1,
    ).otherwise(0)
    return (
        scored.withColumn("is_codeish", is_codeish)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_codeish").cast("long").alias("n_codeish"),
            F.round(F.sum("is_codeish") * 1.0 / F.count(F.lit(1)), 6).alias(
                "codeish_share"
            ),
            F.round(
                F.sum("n_symbols") * 1.0 / F.sum("n_chars"), 6
            ).alias("symbol_density"),
            F.round(
                F.sum("n_keywords")
                * 100.0
                / F.nullif(F.sum("n_tokens"), F.lit(0)),
                6,
            ).alias("keywords_per_100_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Confident-learning label-noise report (round 12)
# ---------------------------------------------------------------------------
#
# Northcutt et al. 2021 ("Confident Learning", JAIR — public method):
# estimate the joint distribution of (noisy label, true label) by
# counting docs whose per-class score clears that class's
# self-confidence threshold (the mean score of docs CARRYING the
# class label), assigning each doc to its highest qualifying class.
# The off-diagonal mass is the estimated label-noise rate — the label
# QA readout a pipeline runs before trusting `lang` (or any labeled
# column) for supervised filtering. Scorer: the engine's stopword
# lang-ID device (integer type-hit counts), so every threshold
# comparison is an exact BIGINT cross-multiplication —
# h * n_class >= sum_class — with no float mean anywhere.


def _label_noise_oracle() -> str:
    arms = "\n      UNION ALL\n".join(
        f"""      SELECT doc_id, noisy, '{lang}' AS cls,
             CAST({tx.sql_lang_score('text', lang)} AS BIGINT) AS h
      FROM d"""
        for lang in tx.LANGS
    )
    return f"""
    WITH d AS (
      SELECT doc_id, lang AS noisy, text FROM documents
      WHERE length(trim(text)) > 0
    ),
    long AS (
{arms}
    ),
    thr AS (
      SELECT cls, CAST(sum(h) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM long WHERE noisy = cls GROUP BY cls
    ),
    qual AS (
      SELECT l.doc_id, l.noisy, l.cls, l.h
      FROM long l JOIN thr t USING (cls)
      WHERE l.h > 0 AND l.h * t.n >= t.s
    ),
    conf AS (
      SELECT doc_id, noisy, cls FROM (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY h DESC, cls) AS rn
        FROM qual
      ) WHERE rn = 1
    ),
    joint AS (
      SELECT noisy AS noisy_label, cls AS confident_label,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM conf GROUP BY 1, 2
    )
    SELECT noisy_label, confident_label, n_docs,
           round(n_docs * 1.0 / sum(n_docs) OVER (
             PARTITION BY noisy_label), 6) AS share_of_noisy,
           CAST(CASE WHEN noisy_label <> confident_label
                THEN 1 ELSE 0 END AS INT) AS is_offdiag
    FROM joint
    """


@query("label_noise_report", oracle=_label_noise_oracle())
def label_noise_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confident-joint label-noise estimate over the `lang` labels
    (see module comment): per (noisy_label, confident_label) cell,
    the doc count and its share of the noisy label's confidently-
    assigned mass; is_offdiag flags estimated mislabels. A doc
    qualifies for class j iff its integer stopword-hit score clears
    class j's mean self-confidence (exact BIGINT cross-multiply,
    h * n_j >= s_j, h > 0); among qualifying classes the highest
    score wins (class name breaks ties).

    Scale: one corpus scan fans out to the 5-class long form (bounded
    explode), thresholds are a class-keyed aggregate broadcast back,
    the winner is a doc-partitioned top-1 window (WindowGroupLimit
    shape, <= |classes| rows per doc), and the joint is one keyed
    count; the share window is partitioned over the |classes|^2
    joint. No floats until the final rounded share."""
    d = load(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    scored = d.select(
        "doc_id",
        F.col("lang").alias("noisy"),
        *[
            tx.lang_score(F.col("text"), lang).cast("long").alias(f"h_{lang}")
            for lang in tx.LANGS
        ],
    )
    stack = ", ".join(f"'{lang}', h_{lang}" for lang in tx.LANGS)
    long = scored.selectExpr(
        "doc_id", "noisy", f"stack({len(tx.LANGS)}, {stack}) AS (cls, h)"
    )
    thr = (
        long.filter(F.col("noisy") == F.col("cls"))
        .groupBy("cls")
        .agg(
            F.sum("h").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    qual = long.join(F.broadcast(thr), "cls").filter(
        (F.col("h") > 0) & (F.col("h") * F.col("n") >= F.col("s"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("h"), F.asc("cls"))
    conf = (
        qual.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    joint = conf.groupBy(
        F.col("noisy").alias("noisy_label"),
        F.col("cls").alias("confident_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    ws = Window.partitionBy("noisy_label")
    return joint.select(
        "noisy_label",
        "confident_label",
        "n_docs",
        F.round(
            F.col("n_docs") * 1.0 / F.sum("n_docs").over(ws), 6
        ).alias("share_of_noisy"),
        (F.col("noisy_label") != F.col("confident_label"))
        .cast("int")
        .alias("is_offdiag"),
    )
