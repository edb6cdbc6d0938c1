"""Vector similarity search over embedding columns (SURVEY.md §2.11).

Brute-force cosine top-k as the exact baseline; LSH-bucketed
(random-hyperplane) variant as the scale path. All dot products are
built-in higher-order functions (zip_with + aggregate) — JVM-side,
no UDF; doubles throughout so results are bit-comparable with the
DuckDB oracle.

Scale notes:
- brute force is O(nq × n): fine when the query set is small
  (broadcast the queries, stream the corpus — no shuffle of the
  corpus); the per-query top-k window shuffles only (nq × k) rows.
- random-hyperplane LSH buckets candidates by signature; recall is
  tunable by tables/bits. Plane components are md5-derived
  (``portable_planes``), so buckets are bit-reproducible in the
  DuckDB oracle; same-corpus pairs come from
  ``dedup_text.band_pairs``, the builder every banded family shares.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup_text import band_pairs, touched_index_rows


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Plan: broadcast(queries) × corpus -> cosine -> per-query top-k
    window. The formula (dot / (sqrt·sqrt), left-fold sums) is kept
    term-identical with the DuckDB oracle so round(sim, 6) is
    bit-comparable. Ranking pins cross-engine ties via round(sim, 9)
    then neighbor id. Self-matches excluded.

    With `exclude_label_col`, candidates sharing the query's label are
    ALSO excluded — top-k most-similar OTHER-label vectors, i.e.
    contrastive hard-negative mining. The label filter sits before the
    window, so the broadcast × scan shape is unchanged."""
    q_cols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
    ]
    if exclude_label_col is not None:
        q_cols.append(F.col(exclude_label_col).alias("qlabel"))
    q = F.broadcast(queries.select(*q_cols))
    # norms computed ONCE per vector before the pairwise join (n + nq
    # norm folds instead of n × nq); same fold order as the oracle's
    # per-side sqrt(list_dot_product(v,v)) → bit-identical sims
    c_cols = [
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
    ]
    if exclude_label_col is not None:
        c_cols.append(F.col(exclude_label_col).alias("clabel"))
    c = embeddings.select(*c_cols)
    pair_ok = F.col("query_id") != F.col("neighbor_id")
    if exclude_label_col is not None:
        pair_ok = pair_ok & (F.col("qlabel") != F.col("clabel"))
    sims = (
        q.crossJoin(c)
        .filter(pair_ok)
        .withColumn(
            "sim",
            dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("sim", 9)), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("sim", 6).alias("sim"),
        )
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    parallelism: int = 32,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, O(n²) compare —
    the oracle-checkable baseline, bounded to small corpora; the
    at-scale entry is ``lsh_portable_near_dup_pairs``, whose bucketed
    self-equi-join replaces this crossJoin).

    The left side is repartitioned so the quadratic compare spreads
    across all cores — a broadcast-NLJ over an unpartitioned small
    table would otherwise run single-threaded. Norms are computed once
    per vector before the join (matching the oracle's per-side
    expression), so the pairwise kernel is a single dot product."""
    # cast to double ONCE per row (Catalyst then elides the per-element
    # casts inside the pairwise dot lambda — measurably less work per
    # pair on the interpreted higher-order-function path)
    dvec = F.col(vec_col).cast("array<double>")
    a = embeddings.select(
        F.col(id_col).alias("id_a"),
        dvec.alias("va"),
        norm(dvec).alias("na"),
    ).repartition(parallelism)
    b = F.broadcast(
        embeddings.select(
            F.col(id_col).alias("id_b"),
            dvec.alias("vb"),
            norm(dvec).alias("nb"),
        )
    )
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )


def sparse_cosine_pairs(
    series: DataFrame,
    key_col: str,
    dim_col: str,
    val_col: str,
    threshold: float = 0.8,
    max_keys_per_dim: int | None = None,
) -> DataFrame:
    """All-pairs cosine over SPARSE vectors stored relationally as
    (key, dimension, value) rows: pairwise dot products via an
    equi-join on the dimension, norms aggregated per key and joined
    in. No materialized dense vectors, no crossJoin.

    The dimension join's fan-out is O(keys-active-per-dimension²) —
    a hot dimension (e.g. a spike day in activity data) is a skewed
    quadratic key at scale. `max_keys_per_dim` drops dimensions shared
    by more than that many keys BEFORE the join (the same guard as
    ``dedup_text.jaccard_pairs.max_shingle_freq``): such dimensions
    carry the least discriminative signal and the most join cost.
    Norms stay exact (computed on the uncapped series), so capping
    only ever UNDER-estimates similarity — recall loss, never false
    positives. None = exact (oracle parity at test SF).

    Returns (key_a, key_b, sim) with key_a < key_b, sim rounded to 6.
    """
    from ..util import ckpt_once

    # r14: series fans into norms, the dim-frequency guard and BOTH
    # join sides — unpinned, every caller paid its series build 4x
    # (guide §3.3). Pin one execution (wrap-once: a caller-checkpointed
    # series is not wrapped again).
    series = ckpt_once(series)
    k, d, v = F.col(key_col), F.col(dim_col), F.col(val_col)
    norms = series.groupBy(key_col).agg(F.sqrt(F.sum(v * v)).alias("nrm"))
    s = series
    if max_keys_per_dim is not None:
        freq = series.groupBy(dim_col).agg(F.count("*").alias("df"))
        s = s.join(
            F.broadcast(freq.filter(F.col("df") <= max_keys_per_dim)).select(
                dim_col
            ),
            dim_col,
            "left_semi",
        )
    # EXPANSION join: the shuffle INPUT is tiny (one row per active
    # (key, dim)) but the join OUTPUT is quadratic per dimension. AQE
    # sizes post-shuffle partitions from the input and would coalesce
    # this join to ~1 task, serializing the fan-out; an explicit
    # numPartitions repartition is exempt from AQE coalescing and
    # keeps the expansion spread across the cluster.
    nparts = int(s.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = s.select(k.alias("key_a"), d.alias("dim"), v.alias("va")).repartition(
        nparts, "dim"
    )
    b = s.select(k.alias("key_b"), d.alias("dim"), v.alias("vb")).repartition(
        nparts, "dim"
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dp"))
    )
    na = norms.select(k.alias("key_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(k.alias("key_b"), F.col("nrm").alias("nrm_b"))
    sim = F.col("dp") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        dots.join(na, "key_a")
        .join(nb, "key_b")
        .filter(sim >= threshold)
        .select("key_a", "key_b", F.round(sim, 6).alias("sim"))
    )


def hashed_bow_embeddings(
    docs: DataFrame,
    n_dims: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Hashing-trick bag-of-words document embeddings (Weinberger et
    al. 2009 'Feature Hashing' — public): token -> dimension by a
    word hash mod n_dims, cell value = token count, assembled into a
    dense array<double> column. The bridge from the documents table
    into every vector operator here (quantize / LSH / IVF / cosine).

    Fully relational: explode -> two map-side-combinable groupBys ->
    per-doc map -> one projection assembling the dense vector. The
    word hash is conv(md5[:4], 16, 10) — portable to the DuckDB
    oracle (('0x' || substr(md5, 1, 4))::INT), unlike xxhash64.
    Docs with zero tokens produce no row (consistent with the token
    explode)."""
    from .text import _let, words

    toks = docs.select(
        F.col(id_col), F.explode(words(F.lower(F.col(text_col)))).alias("w")
    )
    dim = (
        F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("long") % n_dims
    ).cast("int")
    cells = (
        toks.select(id_col, dim.alias("dim"))
        .groupBy(id_col, "dim")
        .agg(F.count("*").cast("double").alias("c"))
    )
    assembled = cells.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("dim", "c"))
        ).alias("m")
    )
    vec = _let(
        F.col("m"),
        lambda m: F.transform(
            F.sequence(F.lit(0), F.lit(n_dims - 1)),
            lambda i: F.coalesce(F.element_at(m, i.cast("int")), F.lit(0.0)),
        ),
    )
    return assembled.select(F.col(id_col), vec.alias("embedding"))


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector scale =
    127 / max|x|, q_i = round(x_i * scale) — the standard 4× memory
    cut for ANN candidate storage (re-rank on full precision). Pure
    higher-order functions; the vector and the scale are let-bound so
    each is evaluated once per row (the interpreted HOF path has no
    CSE — an unbound `scale` inside the transform would recompute the
    array max per element). Output: (id, scale, q array<int>)."""
    from .text import _let as let

    dvec = F.col(vec_col).cast("array<double>")

    def with_v(v):
        amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
        scale_expr = F.when(amax == F.lit(0.0), F.lit(0.0)).otherwise(
            F.lit(127.0) / amax
        )

        def with_scale(s):
            q = F.transform(v, lambda x: F.round(x * s, 0).cast("int"))
            return F.struct(F.round(s, 6).alias("scale"), q.alias("q"))

        return let(scale_expr, with_scale)

    return embeddings.select(
        F.col(id_col), F.inline(F.array(let(dvec, with_v)))
    )


def quantized_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: score the corpus against each query on INT8
    reconstructions (4× smaller scan), keep a per-query shortlist,
    then re-rank only the shortlist on the full-precision vectors —
    the standard production pattern (quantized prefilter + exact
    re-rank). Recall vs the exact baseline is pinned in tests;
    output schema matches cosine_topk."""
    from .text import _let

    def recon(df):  # id, reconstructed vector, its norm
        q = quantize_int8(df, id_col=id_col, vec_col=vec_col)
        rv = _let(
            F.col("q"),
            lambda qq: F.when(
                F.col("scale") > 0,
                F.transform(qq, lambda x: x / F.col("scale")),
            ).otherwise(F.transform(qq, lambda x: x * F.lit(0.0))),
        )
        return q.select(F.col(id_col), rv.alias("rv")).withColumn(
            "rn", norm(F.col("rv"))
        )

    cq = recon(embeddings).select(
        F.col(id_col).alias("neighbor_id"), F.col("rv").alias("cv"), F.col("rn").alias("cn")
    )
    qq = F.broadcast(
        recon(queries).select(
            F.col(id_col).alias("query_id"), F.col("rv").alias("qv"), F.col("rn").alias("qn")
        )
    )
    approx = (
        qq.crossJoin(cq)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("asim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("asim", 9)), F.col("neighbor_id")
    )
    short = (
        approx.withColumn("ark", F.row_number().over(w1))
        .filter(F.col("ark") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # stage 2: exact cosine on the shortlist only, from full vectors
    full_c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("cnorm", norm(F.col("cvec")))
    full_q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        ).withColumn("qnorm", norm(F.col("qvec")))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("sim", 9)), F.col("neighbor_id")
    )
    return (
        short.join(full_c, "neighbor_id")
        .join(full_q, "query_id")
        .withColumn(
            "sim", dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("sim", 6).alias("sim"),
        )
    )


def portable_planes(
    spark, dim: int, num_tables: int, bits: int
) -> DataFrame:
    """(t, b, d, p) hyperplane-component table with md5-derived
    components (bit-reproducible in any engine — the DuckDB twin is
    ('0x' || substr(md5('pl:' || t || ':' || b || ':' || d), 1, 8))
    ::BIGINT / 2147483648.0 - 1.0). Tiny (num_tables x bits x dim
    rows) — always broadcast it into the projection join. Shared by
    ``lsh_portable_buckets`` (dense vectors) and the retrieval
    family's hashed-BoW bucketing (sparse cells)."""
    t_ = spark.range(num_tables).select(F.col("id").alias("t"))
    b_ = spark.range(bits).select(F.col("id").alias("b"))
    d_ = spark.range(dim).select(F.col("id").alias("d"))
    return (
        t_.crossJoin(b_)
        .crossJoin(d_)
        .withColumn(
            "p",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit("pl"), "t", "b", "d")), 1, 8
                ),
                16,
                10,
            ).cast("double")
            / F.lit(2147483648.0)
            - 1.0,
        )
    )


def lsh_portable_buckets(
    emb: DataFrame,
    dim: int,
    num_tables: int = 6,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Portable hyperplane-LSH bucket table: (id, t, bucket) — one row
    per vector per table. Plane components derive from md5 literals
    (bit-reproducible in any engine); projections round at 6 dp before
    the sign test so summation-order ULPs cannot flip a bit. Shared
    front end for same-corpus pairing (``lsh_portable_near_dup_pairs``)
    and cross-corpus membership (semantic decontamination)."""
    planes = portable_planes(emb.sparkSession, dim, num_tables, bits)
    rel = emb.select(
        F.col(id_col), F.posexplode(vec_col).alias("d", "xf")
    ).select(id_col, "d", F.col("xf").cast("double").alias("x"))
    proj = (
        rel.join(F.broadcast(planes), "d")
        .groupBy(id_col, "t", "b")
        .agg(F.round(F.sum(F.col("x") * F.col("p")), 6).alias("s"))
    )
    return proj.groupBy(id_col, "t").agg(
        F.sum(
            F.when(
                F.col("s") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).cast("long").alias("bucket")
    )


def incremental_lsh_dedup(
    batch: DataFrame,
    index_buckets: DataFrame | None,
    index_vectors: DataFrame | None,
    dim: int,
    threshold: float = 0.995,
    num_tables: int = 6,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """SEMANTIC continuous-ingestion dedup — the embedding analog of
    ``dedup_text.incremental_minhash_dedup``, with an exact-cosine
    VERIFY stage (embedding LSH buckets at 8 bits collide for mere
    cluster-mates, so bucket collision alone would over-drop; the
    verify restores precision exactly as in embedding_decontamination):
    drop incoming vectors with a verified (cosine >= threshold)
    near-duplicate already in the corpus, then among survivors drop
    any vector with a verified SMALLER-ID in-batch near-dup (the same
    deterministic one-pass keeper rule as the MinHash variant — a
    vector whose only match was itself dropped is still dropped;
    over-drop, never re-admit).

    `index_buckets` is the persisted (id, t, bucket) table and
    `index_vectors` the persisted (id, vector) table (both None =
    first batch). Returns ``(fresh_ids, fresh_buckets,
    fresh_vectors)`` — survivors plus the rows to append to both
    index tables.

    Scale: per batch, O(|batch| x num_tables) bucket rows equi-joined
    to the bucket index, which is first cut to the buckets the batch
    touches (``dedup_text.touched_index_rows``, a broadcast semi-join:
    the index side never shuffles); the verify fetches ONLY colliding
    corpus vectors by id.
    Candidate volume is bounded by bucket occupancy; at extreme
    corpus sizes raise `bits` (candidates ~ n/2^bits per table) or
    pre-collapse exact duplicates, exactly as for the text variant."""
    dvec = F.col(vec_col).cast("array<double>")
    # lazy localCheckpoints: vecs/buckets/live/fresh are each consumed
    # by several downstream branches — without truncation every branch
    # re-derives the whole bucket pipeline (a measured 86-scan,
    # 106-exchange plan); checkpointed, each is computed once at first
    # action (the dedup_recall_report pattern)
    vecs = (
        batch.select(F.col(id_col).alias("vid"), dvec.alias("v"))
        .withColumn("nrm", norm(F.col("v")))
        .localCheckpoint(eager=False)
    )
    buckets = (
        lsh_portable_buckets(batch, dim, num_tables, bits, id_col, vec_col)
        .select(F.col(id_col).alias("vid"), "t", "bucket")
        .localCheckpoint(eager=False)
    )
    if index_buckets is not None:
        cand = (
            buckets.join(
                touched_index_rows(
                    index_buckets.select(
                        F.col(id_col).alias("cid"), "t", "bucket"
                    ),
                    buckets,
                    ("t", "bucket"),
                ),
                ["t", "bucket"],
            )
            .select("vid", "cid")
            .distinct()
        )
        iv = index_vectors.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        ).withColumn("cnrm", norm(F.col("cv")))
        hits = (
            cand.join(vecs, "vid")
            .join(iv, "cid")
            .filter(
                dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
                >= threshold
            )
            .select("vid")
            .distinct()
        )
        live_ids = vecs.select("vid").join(hits, "vid", "left_anti")
    else:
        live_ids = vecs.select("vid")
    live_ids = live_ids.localCheckpoint(eager=False)
    lb = buckets.join(live_ids, "vid", "left_semi").localCheckpoint(
        eager=False
    )
    pairs = band_pairs(lb, ["t", "bucket"], id_col="vid", names=("id_a", "id_b"))
    va = vecs.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = vecs.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    beaten = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .filter(
            dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
            >= threshold
        )
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    fresh = live_ids.join(beaten, "vid", "left_anti").localCheckpoint(
        eager=False
    )
    fresh_buckets = lb.join(fresh, "vid", "left_semi").select(
        F.col("vid").alias(id_col), "t", "bucket"
    )
    fresh_vectors = vecs.join(fresh, "vid", "left_semi").select(
        F.col("vid").alias(id_col), F.col("v").alias(vec_col)
    )
    return (
        fresh.select(F.col("vid").alias(id_col)),
        fresh_buckets,
        fresh_vectors,
    )


def lsh_portable_near_dup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.995,
    num_tables: int = 6,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH near-dup pairs with PORTABLE plane generation —
    the at-scale replacement for ``cosine_near_dup_pairs``' exact
    O(n²) crossJoin, oracle-checked candidate generation included.
    Plane component p(t,b,d) = md5("pl:t:b:d") first-8-hex as uint32,
    affinely mapped to [-1,1) — pure arithmetic any engine
    reproduces bit-for-bit. Bucket(vec, table) packs the 'bits' sign
    projections into an integer; candidates share (table, bucket);
    survivors pass the exact cosine threshold.

    Projections are rounded to 6 dp before the sign test so the
    engines' summation-order ULPs cannot flip a bucket bit.

    Scale shape: planes are a (T x bits x dim) literal-derived table
    broadcast onto the relational (vec, d, x) stream — two keyed
    aggregates to buckets, one (table, bucket) self-equi-join, exact
    verify on candidates only. Never all-pairs."""
    # r14: buckets is BOTH sides of the candidate self-join and vecs
    # BOTH sides of the verify join — unpinned, the plane-projection
    # pipeline and the norm pass each ran twice per action (guide
    # §3.3). One execution each.
    buckets = lsh_portable_buckets(
        emb, dim, num_tables, bits, id_col, vec_col
    ).localCheckpoint(eager=False)
    cand = band_pairs(
        buckets, ["t", "bucket"], id_col=id_col, names=("id_a", "id_b")
    )
    vecs = emb.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "v", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    ).localCheckpoint(eager=False)
    va = vecs.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = vecs.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    sim = dot / (F.col("na") * F.col("nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(sim >= threshold)
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
    )
