"""Deduplication operators (SURVEY.md §2.11): exact, n-gram Jaccard,
MinHash+LSH, SimHash. No reference equivalent — these are the
training-data-pipeline extensions layered over the ingested tables.

Scale design notes (100 TB stance):
- exact dedup: hash-groupBy on a 128-bit content hash — one shuffle of
  (hash, id), never the full text.
- n-gram Jaccard: relational — explode shingles, self-join on shingle,
  count per pair. The shingle join is the scalable formulation (no
  O(n²) crossJoin); frequency-capping drops degenerate shingles that
  would explode the join (standard trick; cap is a parameter).
- MinHash+LSH and SimHash: one formulation each, with portable
  arithmetic hashes (a polynomial codepoint fold and fixed
  (a*x+b) mod p literals shared with the DuckDB oracle twins), so
  signatures, band keys and candidate sets are all oracle-checked.
  Every banded family gets its candidates from ``band_pairs``: an
  equi-join on band buckets, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import ckpt_once
from .text import _ngrams, normalized_text, words


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups by content hash: one row per distinct
    text with the keeper (min id) and the duplicate count. Shuffles
    only (hash, id)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_docs"),
        )
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Documents minus exact duplicates (keeper = min id per hash)."""
    keepers = exact_dedup_groups(docs, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return docs.join(keepers, id_col, "left_semi")


def incremental_exact_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_hash_col: str | None = None,
) -> DataFrame:
    """Dedup an INCOMING batch against an existing corpus and itself:
    drop batch docs whose content hash already exists in the corpus
    (anti-join), then keep min-id per hash within the batch. Returns
    (id_col, content_hash) of survivors.

    This is the continuous-ingestion shape: at scale the corpus side
    is a persisted HASH INDEX (md5 column only — never re-hash or
    re-shuffle the corpus text; bucketed storage on the hash makes the
    anti-join shuffle-free), and each arriving batch touches
    O(|batch|) rows regardless of corpus size. Pass `corpus_hash_col`
    when `corpus` is already such an index."""
    hashed = batch.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    if corpus_hash_col is None:
        index = corpus.select(F.md5(F.col(text_col)).alias("content_hash"))
    else:
        index = corpus.select(F.col(corpus_hash_col).alias("content_hash"))
    fresh = hashed.join(index, "content_hash", "left_anti")
    from pyspark.sql.window import Window

    w = Window.partitionBy("content_hash")
    return (
        fresh.withColumn("keeper", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("keeper"))
        .select(id_col, "content_hash")
    )


# ---------------------------------------------------------------------------
# Word/shingle Jaccard (relational — fully SQL-expressible)
# ---------------------------------------------------------------------------

def _doc_shingles(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) pairs; n=1 -> distinct words, n>1 -> word n-grams.

    Shingle construction is a PURE PROJECTION (slice + zip_with via
    ``text._ngrams``) — no posexplode+window round trip, so the only
    exchanges in a dedup pipeline are the ones the shingle equi-join
    itself needs; and no per-element re-evaluation of the word split
    (higher-order lambdas are interpreted without CSE, so indexing an
    outer expression inside one costs a regex split per element)."""
    ws_col = words(normalized_text(F.col(text_col)))
    shingles = F.array_distinct(_ngrams(ws_col, n))
    return docs.select(
        F.col(id_col).alias("did"), F.explode(shingles).alias("shingle")
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Relational plan: shingle-explode -> (optional frequency cap) ->
    self-join on shingle -> per-pair intersection counts -> join per-doc
    set sizes -> Jaccard = |A∩B| / (|A|+|B|-|A∩B|). Output columns:
    (doc_a, doc_b, jaccard) with doc_a < doc_b.

    `max_shingle_freq` drops shingles appearing in more than that many
    docs before the join — at 100 TB a stopword shingle would otherwise
    create a quadratic hot key; the cap bounds each shingle's join
    contribution. None = exact (used for oracle parity at test SF).

    `shingles` injects a precomputed (did, shingle[, ...]) table so a
    caller evaluating several dedup methods over one corpus (e.g.
    dedup_recall_report) pays the explode once, not once per method.
    """
    inter = _shingle_pair_candidates(
        docs, n, id_col, text_col, max_shingle_freq, shingles
    )
    # filter on the UNROUNDED ratio (matching the SQL oracle); round
    # only in the final projection — filtering on the rounded value
    # would keep a true similarity in [threshold-5e-7, threshold)
    jacc = F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return inter.filter(jacc >= threshold).select(
        "doc_a", "doc_b", F.round(jacc, 6).alias("jaccard")
    )


def _shingle_pair_candidates(
    docs: DataFrame | None,
    n: int,
    id_col: str,
    text_col: str,
    max_shingle_freq: int | None,
    shingles: DataFrame | None,
) -> DataFrame:
    """Shared candidate front end for every shingle-overlap measure
    (jaccard_pairs, containment_pairs): shingle-explode -> optional
    hot-shingle frequency cap -> expansion self-join -> per-pair
    intersection counts joined with both set sizes. Output:
    (doc_a, doc_b, n_common, sz_a, sz_b) with doc_a < doc_b —
    downstream only the ratio differs. One implementation keeps the
    cap semantics and the AQE-exemption repartition from silently
    diverging between measures."""
    sh = (
        shingles.select("did", "shingle")
        if shingles is not None
        else _doc_shingles(docs, id_col, text_col, n)
    )
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = sh.join(
            freq.filter(F.col("df") <= max_shingle_freq).select("shingle"),
            "shingle",
            "left_semi",
        )
    sh = ckpt_once(sh)
    sizes = sh.groupBy("did").agg(F.count("*").alias("sz"))
    # expansion join (see similarity.sparse_cosine_pairs): the shuffle
    # input is one row per (doc, shingle) but the output multiplies by
    # docs-per-shingle; explicit numPartitions exempts the exchange
    # from AQE input-size coalescing so the fan-out stays parallel
    nparts = int(sh.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = sh.select(F.col("did").alias("doc_a"), "shingle").repartition(
        nparts, "shingle"
    )
    b = sh.select(F.col("did").alias("doc_b"), "shingle").repartition(
        nparts, "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("did").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("did").alias("doc_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by ASYMMETRIC shingle containment
    (Broder 1997's resemblance companion): c(A in B) = |A∩B| / |A|.
    Catches the quote/excerpt/truncation regime symmetric Jaccard
    misses — a short doc fully embedded in a long one has containment
    1.0 but Jaccard |A|/|B|, arbitrarily low. A pair is emitted when
    EITHER direction reaches `threshold`; the training-data dedup
    policy then drops the contained (higher-containment = smaller)
    side.

    Same relational plan as ``jaccard_pairs`` (the shared
    ``_shingle_pair_candidates`` front end: shingle equi-join, never
    all-pairs, with the same `max_shingle_freq` hot-shingle guard for
    the 100 TB path and the same `shingles` injection for one-explode
    multi-method evaluation); only the final ratio differs. Output:
    (doc_a, doc_b, cont_a_in_b, cont_b_in_a) with doc_a < doc_b."""
    inter = _shingle_pair_candidates(
        docs, n, id_col, text_col, max_shingle_freq, shingles
    )
    c_ab = F.col("n_common") / F.col("sz_a")
    c_ba = F.col("n_common") / F.col("sz_b")
    return inter.filter(F.greatest(c_ab, c_ba) >= threshold).select(
        "doc_a",
        "doc_b",
        F.round(c_ab, 6).alias("cont_a_in_b"),
        F.round(c_ba, 6).alias("cont_b_in_a"),
    )


def _cap_buckets(
    banded: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """Hot-bucket guard for banded LSH self-joins: drop band buckets
    holding more than `max_bucket_size` members BEFORE the join — the
    banded analog of ``jaccard_pairs.max_shingle_freq``. A bucket of k
    members contributes k(k-1)/2 candidate pairs, so one pathological
    bucket (e.g. k exact duplicates of a viral document, all sharing
    every band key) turns the join quadratic. Capping only ever loses
    RECALL among the capped docs (the verify step filters candidates,
    so precision is unaffected); run exact dedup first so byte-equal
    groups never reach the band join. None = exact (oracle-parity
    baseline).

    Implemented as a COUNT WINDOW over the band key rather than an
    aggregate + semi-join: the join form evaluates the whole signature
    pipeline twice (once per join side — `banded` is unpersisted
    lineage), while the window is one pass whose exchange hash-
    partitions on exactly the keys the downstream candidate self-join
    needs, so the planner can reuse it."""
    if max_bucket_size is None:
        return banded
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys)
    return (
        banded.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )


def band_pairs(
    banded: DataFrame,
    keys: list[str],
    id_col: str = "did",
    names: tuple[str, str] = ("doc_a", "doc_b"),
    carry: str | None = None,
    right_ids: DataFrame | None = None,
) -> DataFrame:
    """The one candidate builder of every banded near-dup family
    (MinHash, SimHash, hyperplane LSH, the incremental embedding
    screen, lsh_banding_sweep): self equi-join of a band table on its
    band key `keys` -> keep a < b -> one row per pair, however many
    bands the pair shares. Output: the two ids, named `names`, plus
    `carry` of each side as ``<carry>_a`` / ``<carry>_b`` when given
    (the signature the caller's verify step compares). `right_ids`
    (a one-column `id_col` DataFrame) restricts the b side. Callers
    apply any hot-bucket cap (``_cap_buckets``) before, and their own
    verify after."""
    a_id, b_id = names

    def side(df: DataFrame, new_id: str, sfx: str) -> DataFrame:
        cols = [F.col(id_col).alias(new_id)]
        if carry is not None:
            cols.append(F.col(carry).alias(f"{carry}_{sfx}"))
        return df.select(*cols, *keys)

    b_src = banded if right_ids is None else banded.join(right_ids, id_col, "left_semi")
    carried = [] if carry is None else [f"{carry}_a", f"{carry}_b"]
    return (
        side(banded, a_id, "a")
        .join(side(b_src, b_id, "b"), keys)
        .filter(F.col(a_id) < F.col(b_id))
        .select(a_id, b_id, *carried)
        .dropDuplicates([a_id, b_id])
    )


# ---------------------------------------------------------------------------
# Portable MinHash (oracle-checkable arithmetic — no engine-native hash)
# ---------------------------------------------------------------------------

# Fixed universal-hash permutations h_j(x) = (a_j*x + b_j) mod PRIME.
# Literal constants (seeded once, frozen) so the Spark plan and the
# DuckDB oracle twin share them verbatim. a_j,h < PRIME ~ 1e9 keeps
# a_j*h < ~1e18, inside signed-64 range on both engines.
MH_PRIME = 1_000_000_007
MH_AB: tuple[tuple[int, int], ...] = (
    (199401392, 298493741),
    (573612697, 958392527),
    (739673739, 486173716),
    (58225162, 145609950),
    (215489561, 117017237),
    (703471044, 880590497),
    (633842771, 462017658),
    (586349398, 201319702),
    (678835136, 677911909),
    (334462875, 126328944),
    (588912590, 214015920),
    (848272349, 115448326),
    (397332018, 879404500),
    (740016488, 429239619),
    (263703426, 53291262),
    (951695955, 43983197),
)


def _portable_hash(s: Column, base: int = 131, mod: int = MH_PRIME) -> Column:
    """Polynomial codepoint fold — the same portable construction as
    ``text.fingerprint_rolling``'s word hash, over the whole string
    (spaces included). Pure arithmetic: identical in any engine."""
    return F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % mod,
    )


def minhash_portable_bands(
    docs: DataFrame,
    n: int = 3,
    num_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Portable MinHash band keys: shingles -> polynomial base hash ->
    16 (a*x+b) mod p permutation minima -> `num_bands` band keys.
    Returns (did, sig, band, bk) — one row per doc per band, the
    shared candidate-generation front end for same-corpus near-dup
    pairing (``minhash_portable_pairs``) and cross-corpus membership
    (decontamination: corpus bands semi-joined to benchmark bands).
    One shingle explode + one doc-id shuffle; every hash is
    engine-neutral arithmetic (SQL-twin-checkable)."""
    k = len(MH_AB)
    if k % num_bands:
        raise ValueError("len(MH_AB) must be divisible by num_bands")
    r = k // num_bands
    sh = shingles if shingles is not None else _doc_shingles(docs, id_col, text_col, n)
    if "h" not in sh.columns:
        sh = sh.withColumn("h", _portable_hash(F.col("shingle")))
    sig = sh.groupBy("did").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MH_PRIME)).alias(f"m{j}")
            for j, (a, b) in enumerate(MH_AB)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-", *[F.col(f"m{b * r + j}") for j in range(r)]
                ).alias("bk"),
            )
            for b in range(num_bands)
        ]
    )
    sig = sig.withColumn("sig", F.array(*[f"m{j}" for j in range(k)]))
    return sig.select("did", "sig", F.explode(bands).alias("b")).select(
        "did", "sig", F.col("b.band").alias("band"), F.col("b.bk").alias("bk")
    )


def minhash_portable_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    num_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded MinHash LSH with PORTABLE hashing: shingles -> polynomial
    base hash -> 16 (a*x+b) mod p permutation minima -> `num_bands`
    bands -> candidate pairs by band-key equi-join -> estimated
    Jaccard = matching-signature fraction, thresholded.

    One signature shuffle, one band explode, one band-key equi-join —
    no crossJoin. Every hash is engine-neutral arithmetic, so the
    whole pipeline — candidate generation INCLUDED — is
    value-checkable against a SQL oracle rather than rows-only.
    Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b."""
    banded = minhash_portable_bands(
        docs, n, num_bands, id_col, text_col, shingles=shingles
    )
    banded = _cap_buckets(banded, ["band", "bk"], max_bucket_size)
    return verified_pairs_from_bands(banded, threshold)


def verified_pairs_from_bands(
    banded: DataFrame,
    threshold: float,
    right_ids: DataFrame | None = None,
) -> DataFrame:
    """Candidate generation (``band_pairs``) + signature verify over
    an already-capped band table (did, sig, band, bk): estimated
    Jaccard = matching-signature fraction >= threshold. The ONE
    implementation behind ``minhash_portable_pairs`` and the
    incremental manifest's fuzzy screen (streaming/manifest.py), so the two can never
    diverge on pair semantics. `right_ids` (a one-column `did`
    DataFrame) restricts the doc_b side — the incremental screen
    passes the arriving batch's ids so only NEW docs are candidates
    for dropping while the index side still supplies partners."""
    k = len(MH_AB)
    cand = band_pairs(banded, ["band", "bk"], carry="sig", right_ids=right_ids)
    matches = sum(
        (F.element_at("sig_a", j + 1) == F.element_at("sig_b", j + 1)).cast("int")
        for j in range(k)
    )
    est = matches / F.lit(float(k))
    return cand.filter(est >= threshold).select(
        "doc_a", "doc_b", F.round(est, 6).alias("est_jaccard")
    )


def touched_index_rows(
    index: DataFrame, batch_bands: DataFrame, keys: tuple[str, ...] = ("band", "bk")
) -> DataFrame:
    """The rows of a persisted band index whose key a batch touches:
    the index semi-joined against a broadcast of the batch's distinct
    keys. The broadcast side is batch-sized, so the index side is
    scanned once and never shuffled, whatever the corpus size."""
    touched = batch_bands.select(*keys).distinct()
    return index.join(F.broadcast(touched), list(keys), "left_semi")


def incremental_minhash_dedup(
    batch: DataFrame,
    index_bands: DataFrame | None,
    n: int = 3,
    num_bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """FUZZY continuous-ingestion dedup — the MinHash analog of
    ``incremental_exact_dedup``: drop incoming docs whose band keys
    collide with the persisted corpus BAND INDEX (near-dups of
    already-admitted content, not just byte-identical), then keep
    min-id per in-batch collision component. Returns
    ``(fresh_ids, fresh_bands)``: survivors and the band rows to
    append to the index so later batches screen against them.

    `index_bands` is the persisted (band, bk) table (None = first
    batch). Banding defaults to the recall-biased 8x2 layout of
    minhash_decontamination — for admission control, missing a
    near-dup pollutes the corpus forever, while a false collision
    drops one doc.

    Scale: each arriving batch costs O(|batch|) band rows against the
    index regardless of corpus size: the index is first cut down to
    the band keys the batch touches (``touched_index_rows``, a
    broadcast semi-join), so the index side is scanned once and never
    shuffled. In-batch
    collisions use the same banded equi-join, never all-pairs; the
    min-id keeper rule is one window over band keys. The rule is
    deliberately CONSERVATIVE: a doc whose only collisions are with
    other rejected docs is also dropped (sequential id-order admission
    would re-admit it, but needs iterative peeling — at ingest scale a
    deterministic one-pass over-drop beats a multi-round exact
    replay).

    Docs too short to shingle (fewer than `n` words after
    normalization) emit no MinHash band rows, which previously made
    them vanish — never admitted, never indexed (an advisor-flagged
    data-loss path). They now get ONE degenerate band row
    (band = -1, key = md5 of the normalized text), so the identical
    anti-join + keeper machinery applies EXACT-match semantics to
    them: first sight admits and indexes, re-delivery and in-batch
    copies are rejected. Near-duplicate matching genuinely needs >= n
    words; exact normalized-text identity is the right degenerate
    contract below that."""
    from pyspark.sql.window import Window

    bands = minhash_portable_bands(
        batch, n=n, num_bands=num_bands, id_col=id_col, text_col=text_col
    ).select("did", "band", "bk")
    no_shingle = (
        batch.select(
            F.col(id_col).alias("did"),
            normalized_text(F.col(text_col)).alias("__nt"),
        )
        .join(bands.select("did").distinct(), "did", "left_anti")
        .select(
            "did",
            F.lit(-1).alias("band"),
            # coalesce: md5(NULL) is NULL, and NULL keys never match in
            # the corpus-screen equi-join (unlike the in-batch window,
            # which groups NULLs) — a NULL-text doc would be re-admitted
            # on every re-delivery. Empty and NULL text share one key:
            # both normalize to "no content", the degenerate contract.
            F.md5(F.coalesce(F.col("__nt"), F.lit(""))).alias("bk"),
        )
    )
    bands = bands.unionByName(no_shingle)
    if index_bands is not None:
        idx = touched_index_rows(index_bands.select("band", "bk"), bands)
        hit_corpus = (
            bands.join(idx, ["band", "bk"], "left_semi")
            .select("did")
            .distinct()
        )
        bands_live = bands.join(hit_corpus, "did", "left_anti")
    else:
        bands_live = bands
    # in-batch: docs sharing any band key collide; keep the minimum id
    # per band key, then a doc survives only if it is the keeper of
    # EVERY band key it emits (a non-keeper somewhere means it
    # collided with an earlier-id doc there)
    w = Window.partitionBy("band", "bk")
    keepers = (
        bands_live.withColumn("keeper", F.min("did").over(w))
        .groupBy("did")
        .agg(F.max((F.col("did") != F.col("keeper")).cast("int")).alias("beaten"))
        .filter(F.col("beaten") == 0)
        .select("did")
    )
    fresh_ids = keepers.withColumnRenamed("did", id_col)
    fresh_bands = bands_live.join(keepers, "did", "left_semi").select(
        F.col("did").alias(id_col), "band", "bk"
    )
    return fresh_ids, fresh_bands


# ---------------------------------------------------------------------------
# Portable SimHash (oracle-checkable — random-parity projections)
# ---------------------------------------------------------------------------

# 56 fixed universal hashes; bit i of a shingle's projection is the
# parity of (a_i*h + b_i) mod PRIME — an engine-neutral stand-in for
# "bit i of a 64-bit native hash". Frozen literals (seeded
# random.Random(20260814) draw, frozen at generation), shared with
# the DuckDB oracle twin.
#
# WIDTH IS THE SCALE LEVER: banded candidate volume is ~ n²/2^band_bits
# per band (random collisions are UNIFORM, so a size cap cannot save a
# narrow band). The original 4×8-bit layout measured 81M raw
# collisions for 18k true pairs at a 100k-doc probe; 4×14-bit bands
# cut that ~64×. 56 bits (not 64) keeps bit 55 the top bit so the
# fingerprint never touches the sign bit of a BIGINT in either
# engine. This is the Manku et al. 2007 (public) configuration
# adapted to portable arithmetic: a wide fingerprint with a SMALL
# absolute hamming cutoff targets near-IDENTICAL documents; the
# 0.5-0.8 Jaccard regime belongs to MinHash.
SH_AB: tuple[tuple[int, int], ...] = (
    (785529273, 365246976),
    (830029370, 646853778),
    (561380868, 789741457),
    (36386284, 388159642),
    (904901290, 544200133),
    (858092631, 927393746),
    (688290101, 616131059),
    (63046564, 859174503),
    (627577040, 464732997),
    (747581128, 555199689),
    (126690169, 111989979),
    (165742055, 277054081),
    (42220329, 215283304),
    (143864128, 731819782),
    (963209802, 17125302),
    (246170042, 188557470),
    (685140264, 743419651),
    (699444122, 539188401),
    (231003432, 494024570),
    (413883451, 653754703),
    (552840405, 657447051),
    (54514408, 746255235),
    (874338784, 545532384),
    (395673620, 291810919),
    (633627808, 144301859),
    (73463470, 380607368),
    (461519278, 837107856),
    (929308256, 96880808),
    (402038399, 59680731),
    (49407459, 133413028),
    (122709673, 600626166),
    (929896608, 103017955),
    (111932942, 24544222),
    (20616478, 428485959),
    (982859058, 470825591),
    (335766666, 308922630),
    (344029535, 972239699),
    (268625832, 15218290),
    (76229739, 636769047),
    (658562841, 655453547),
    (500250615, 238937234),
    (875330333, 83385518),
    (920149918, 72610944),
    (944963357, 911566383),
    (743757943, 92922459),
    (27185753, 898967870),
    (427924173, 977102403),
    (497968761, 459938984),
    (847731025, 862488573),
    (879653459, 574898469),
    (529351160, 98287420),
    (323142446, 938913125),
    (192324899, 436062918),
    (337071609, 962492316),
    (23129131, 694924930),
    (952958466, 299644353),
)

SH_BITS = len(SH_AB)  # 56-bit fingerprint
SH_BAND_BITS = 14     # 4 bands of 14 bits -> pigeonhole covers hamming <= 3


def simhash_portable(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """SH_BITS-wide (56-bit) SimHash per document over word n-gram
    shingles, with
    PORTABLE arithmetic: shingle -> polynomial base hash -> bit i =
    majority vote of parity((a_i*h + b_i) mod p). One explode + one
    aggregation (SH_BITS conditional sums on one doc-id shuffle); no
    engine-native hash anywhere, so the fingerprints value-match a
    SQL twin."""
    sh = shingles if shingles is not None else _doc_shingles(docs, id_col, text_col, n)
    if "h" not in sh.columns:
        sh = sh.withColumn("h", _portable_hash(F.col("shingle")))
    votes = [
        F.sum(
            F.when(
                ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MH_PRIME)) % 2 == 1, 1
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i, (a, b) in enumerate(SH_AB)
    ]
    agg = sh.groupBy(F.col("did")).agg(*votes)
    sig = F.lit(0).cast("long")
    for i in range(SH_BITS):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(0)
        )
    return agg.select(F.col("did"), sig.alias("simhash"))


def simhash_portable_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by portable SimHash: banded pigeonhole
    candidate join (4 x 14-bit bands — any pair within hamming 3
    shares at least one intact band, so recall at the threshold is
    EXACT, not probabilistic), then bit_count(xor) verification.
    Returns (doc_a, doc_b, hamming), doc_a < doc_b; every value
    checkable in SQL. The guarantee needs `max_hamming` below the
    band count (one flipped bit per band shares no band), so a larger
    cutoff raises ValueError instead of silently dropping pairs."""
    n_bands = SH_BITS // SH_BAND_BITS
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming must be below the {n_bands} SimHash bands for "
            f"exact pigeonhole recall, got {max_hamming}"
        )
    sig = simhash_portable(docs, n, id_col, text_col, shingles=shingles)
    mask = (1 << SH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * SH_BAND_BITS)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select("did", "simhash", F.explode(bands).alias("b")).select(
        "did", "simhash", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )
    banded = _cap_buckets(banded, ["band", "bv"], max_bucket_size)
    cand = band_pairs(banded, ["band", "bv"], carry="simhash")
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return cand.filter(hamming <= max_hamming).select(
        "doc_a", "doc_b", hamming.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Bloom filter (portable md5-window hashes)
# ---------------------------------------------------------------------------

BLOOM_M_DEFAULT = 8192  # filter bits
BLOOM_WINDOWS = (1, 9, 17, 25)  # 4 disjoint 8-hex md5 windows = k=4 hashes


def bloom_positions(col: F.Column, m: int = BLOOM_M_DEFAULT) -> list[F.Column]:
    """k=4 Bloom bit positions for one value: four disjoint 32-bit
    windows of its md5 digest, each mod `m`. No RNG — positions (and
    therefore false positives) are deterministic and replicable in
    SQL ('0x' || substr(md5(t), s, 8))::BIGINT % m)."""
    return [
        F.pmod(
            F.conv(F.substring(F.md5(col), s, 8), 16, 10).cast("bigint"),
            F.lit(m),
        )
        for s in BLOOM_WINDOWS
    ]


def sql_bloom_positions(t: str, m: int = BLOOM_M_DEFAULT) -> str:
    """DuckDB twin of bloom_positions — kept beside it so the two
    hash derivations cannot drift (the portable_id_hash stance):
    comma-joined list of the k position expressions."""
    return ", ".join(
        f"('0x' || substr(md5({t}), {s}, 8))::BIGINT % {m}"
        for s in BLOOM_WINDOWS
    )
