"""Extension operators: dedup family, similarity search, text
analysis, multimodal plumbing. Oracle-matched queries are covered by
test_oracle_parity's parametrization; here we pin behaviour parity
cannot see: planted recall, precision, guards and edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickstreamtoclickhouse_spark import plans
from clickstreamtoclickhouse_spark.functions import dedup_text, multimodal, similarity
from clickstreamtoclickhouse_spark.plans.ext import _dup_corpus, _near_dup_corpus

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return plans.load(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return plans.load(spark, SF_DIR, "embeddings").cache()


def test_portable_minhash_finds_planted_pairs(spark, docs):
    # 8 bands x 2 rows: P[catch] = 1-(1-s^2)^8 ~ 0.98 at s=0.65 (the
    # 80%-truncation regime); the default 4x4 layout misses ~1 in 4
    pairs = dedup_text.minhash_portable_pairs(
        _near_dup_corpus(docs), threshold=0.5, num_bands=8
    )
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    planted = {(i, i + 1_000_000) for i in range(0, 50)}
    hits = sum(1 for p in planted if p in got)
    assert hits >= 45, f"minhash recall on planted near-dups too low: {hits}/50"


def test_simhash_exact_copies_hamming_zero(spark, docs):
    pairs = dedup_text.simhash_portable_near_dup_pairs(
        _dup_corpus(docs), max_hamming=3
    )
    rows = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    for i in range(0, 30):
        assert rows.get((i, i + 1_000_000)) == 0, f"exact copy pair {i} missing"


def test_portable_simhash_rejects_hamming_beyond_pigeonhole(spark, docs):
    # 4 bands of 14 bits: at hamming 4 one flipped bit per band shares
    # no band, so the pair would be dropped without a word
    n_bands = dedup_text.SH_BITS // dedup_text.SH_BAND_BITS
    with pytest.raises(ValueError, match="max_hamming"):
        dedup_text.simhash_portable_near_dup_pairs(docs, max_hamming=n_bands)
    dedup_text.simhash_portable_near_dup_pairs(docs, max_hamming=n_bands - 1)


def test_exact_dedup_keeps_min_id(spark, docs):
    deduped = dedup_text.exact_dedup(_dup_corpus(docs))
    ids = [r.doc_id for r in deduped.select("doc_id").collect()]
    assert len(ids) == docs.count()
    assert all(i < 1_000_000 for i in ids)  # originals kept, copies dropped


def _topk_recall(spark, emb, name):
    """(recall vs exact cosine top-5, approx rows, exact sims) of a
    registered top-5 query over queries vec_id < 10."""
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    rows = plans.QUERIES[name](spark, SF_DIR).collect()
    got = {(r.query_id, r.neighbor_id) for r in rows}
    sims = {
        (r.query_id, r.neighbor_id): r.sim
        for r in similarity.cosine_topk(emb, queries, k=1000).collect()
    }
    return len(got & exact) / len(exact), rows, sims


def test_embedding_lsh_topk_recall_vs_exact(spark, emb):
    recall, rows, sims = _topk_recall(spark, emb, "embedding_lsh_topk")
    # portable AND-OR hyperplane LSH on near-uniform embeddings (the
    # ANN worst case): require decent recall
    assert recall >= 0.5, f"LSH top-k recall {recall:.2f}"
    # every approx result carries the true cosine (same kernel)
    for r in rows:
        assert abs(sims[(r.query_id, r.neighbor_id)] - r.sim) < 1e-9


def test_embedding_ivf_topk_recall_vs_exact(spark, emb):
    recall, rows, _ = _topk_recall(spark, emb, "embedding_ivf_topk")
    # a floor well above the 4/16-cells random baseline (25%)
    assert recall >= 0.4, f"IVF top-k recall {recall:.2f}"
    assert len(rows) == 50  # full k for every query (cells are dense)


def test_media_feature_plumbing(spark, docs):
    media = multimodal.synth_media_from_documents(docs.limit(20))
    feats = multimodal.extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r.features) == multimodal.FEATURE_DIM
        assert r.n_bytes > 0
    # deterministic: same input -> same features
    again = {r.media_id: r.features for r in multimodal.extract_features(media, fake=True).collect()}
    for r in rows:
        assert again[r.media_id] == r.features


def test_media_decode_stub_raises_without_libs(spark, docs):
    media = multimodal.synth_media_from_documents(docs.limit(1))
    try:
        import PIL  # noqa: F401
        pytest.skip("PIL present; stub path not applicable")
    except ImportError:
        pass
    with pytest.raises(Exception):
        multimodal.extract_features(media, fake=False).collect()


def test_frame_sample(spark, docs):
    media = multimodal.synth_media_from_documents(docs.limit(3), kind="video")
    frames = multimodal.frame_sample(media, every_n_bytes=100)
    rows = frames.collect()
    assert len(rows) > 3  # multiple frames per doc (texts are >100 bytes)
    n0 = docs.limit(3).select(F.length("text")).first()[0]
    per_doc = [r for r in rows if r.media_id == docs.limit(3).first()["doc_id"]]
    assert len(per_doc) == -(-n0 // 100)  # ceil division


def test_jaccard_shingle_cap(spark, docs):
    # frequency cap drops ubiquitous shingles; with a tiny cap almost
    # everything is dropped -> far fewer pairs than uncapped
    corpus = _near_dup_corpus(docs.limit(50))
    uncapped = dedup_text.jaccard_pairs(corpus, threshold=0.5, n=3).count()
    capped = dedup_text.jaccard_pairs(
        corpus, threshold=0.5, n=3, max_shingle_freq=1
    ).count()
    assert capped == 0 and uncapped > 0


def test_lsh_near_dup_pairs_recall(spark, emb):
    from clickstreamtoclickhouse_spark.plans.ext import _perturbed_embeddings

    corpus = _perturbed_embeddings(emb)
    exact = similarity.cosine_near_dup_pairs(corpus, threshold=0.995)
    approx = similarity.lsh_portable_near_dup_pairs(
        corpus, dim=64, threshold=0.995, bits=8, num_tables=8
    )
    e = {(r.id_a, r.id_b) for r in exact.collect()}
    a = {(r.id_a, r.id_b) for r in approx.collect()}
    # exact-cosine filter on candidates -> precision 1.0 by construction
    assert a <= e
    # near-identical vectors collide in >=1 of 8 tables w.h.p.
    assert len(a & e) / len(e) >= 0.95


def test_sparse_cosine_pairs_dim_cap(spark):
    # two user-pairs: (1,2) similar only via the HOT dimension shared
    # by everyone; (10,11) similar via a private dimension. Capping
    # max_keys_per_dim prunes the hot dimension -> only the private
    # pair survives; uncapped finds both.
    rows = [(u, 99, 5) for u in (1, 2, 3, 4, 5)]  # hot dim 99
    rows += [(10, 7, 3), (11, 7, 3)]  # private dim 7
    series = spark.createDataFrame(rows, "uid int, day int, n int")
    uncapped = similarity.sparse_cosine_pairs(
        series, "uid", "day", "n", threshold=0.99
    )
    capped = similarity.sparse_cosine_pairs(
        series, "uid", "day", "n", threshold=0.99, max_keys_per_dim=3
    )
    un = {(r.key_a, r.key_b) for r in uncapped.collect()}
    cp = {(r.key_a, r.key_b) for r in capped.collect()}
    assert (1, 2) in un and (10, 11) in un
    assert cp == {(10, 11)}  # hot-dim pairs pruned, private pair kept


def test_repetition_metrics_edge_cases(spark):
    from clickstreamtoclickhouse_spark.functions import text as tx

    rows = [
        (1, "the cat sat on the mat"),          # no repeated bigram
        (2, "go go go go"),                     # one bigram repeated
        (3, ""),                                # empty
        (4, "word"),                            # single word: no grams
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.round(tx.top_ngram_frac(F.col("text"), 2), 6).alias("tbf"),
            F.round(tx.dup_ngram_frac(F.col("text"), 2), 6).alias("dbf"),
            F.round(tx.mean_word_len(F.col("text")), 4).alias("mwl"),
        ).collect()
    }
    # "the cat","cat sat","sat on","on the","the mat": top freq 1/5
    assert out[1]["tbf"] == 0.2 and out[1]["dbf"] == 0.0
    # "go go" x3 -> top 3/3, dup (3-1)/3
    assert out[2]["tbf"] == 1.0 and out[2]["dbf"] == round(2 / 3, 6)
    assert out[3]["tbf"] == 0.0 and out[3]["dbf"] == 0.0 and out[3]["mwl"] == 0.0
    assert out[4]["tbf"] == 0.0 and out[4]["mwl"] == 4.0


def test_unigram_lm_quality_ranks_rare_docs_lower(spark):
    # a doc made of corpus-rare words must score lower avg logprob
    # than one made of the corpus's most common words
    from clickstreamtoclickhouse_spark.plans.ext import unigram_lm_quality

    out = unigram_lm_quality(spark, SF_DIR)
    assert out.count() == 500
    assert out.filter(F.col("avg_logprob") >= 0).count() == 0  # probs < 1


def _exact_users_by_type(spark):
    e = plans.load(spark, SF_DIR, "events")
    return {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }


def test_hll_sketch_rollup_matches_exact_within_tolerance(spark):
    # daily-sketch union must estimate within HLL error bounds of the
    # exact per-type distinct (lgConfigK default 12 -> ~1.6% rse)
    from clickstreamtoclickhouse_spark.plans.relational import (
        hll_approx_distinct_users,
        hll_sketch_rollup_users,
    )

    exact = _exact_users_by_type(spark)
    for fn in (hll_sketch_rollup_users, hll_approx_distinct_users):
        approx = {
            r["event_type"]: r["approx_users"]
            for r in fn(spark, SF_DIR).collect()
        }
        assert set(approx) == set(exact)
        for t, n in exact.items():
            assert abs(approx[t] - n) <= max(2, 0.05 * n), (t, approx[t], n)


def test_kmv_sketches_match_exact_within_tolerance(spark):
    # KMV rse ~ 1/sqrt(k-2) (~12.7% at k=64); allow 4 sigma. The
    # rollup (daily bottom-k then merged) must agree with the
    # single-shot sketch EXACTLY: merging bottom-k sets and
    # re-truncating yields the same global bottom-k (associativity).
    from clickstreamtoclickhouse_spark.plans.relational import (
        approx_distinct_users,
        sketch_rollup_users,
    )

    exact = _exact_users_by_type(spark)
    single = {
        r["event_type"]: r["approx_users"]
        for r in approx_distinct_users(spark, SF_DIR).collect()
    }
    rolled = {
        r["event_type"]: r["approx_users"]
        for r in sketch_rollup_users(spark, SF_DIR).collect()
    }
    assert single == rolled
    assert set(single) == set(exact)
    for t, n in exact.items():
        assert abs(single[t] - n) <= max(2, 0.51 * n), (t, single[t], n)


def test_incremental_dedup_semantics(spark):
    from clickstreamtoclickhouse_spark.plans.ext import incremental_dedup_docs

    out = incremental_dedup_docs(spark, SF_DIR)
    ids = sorted(r["doc_id"] for r in out.collect())
    # corpus re-sends (1M range) all dropped; every fresh doc survives
    # once via its min-id copy (2M range); 3M in-batch dups collapsed
    assert ids == [2_000_000 + d for d in range(500)]


def test_quantization_error_within_half_step(spark, emb):
    # |x - q/scale| <= 0.5/scale for every element (round-to-nearest)
    q = similarity.quantize_int8(emb)
    joined = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")).join(
        q.filter(F.col("scale") > 0), "vec_id"
    )
    max_err_vs_bound = joined.select(
        (
            F.array_max(
                F.zip_with("v", "q", lambda x, qv: F.abs(x - qv / F.col("scale")))
            )
            * F.col("scale")
        ).alias("scaled_err")
    ).agg(F.max("scaled_err")).first()[0]
    assert max_err_vs_bound <= 0.5000001


def test_hashed_bow_feeds_vector_ops(spark, docs):
    # the generated embeddings must compose with the vector operators
    emb = similarity.hashed_bow_embeddings(docs, n_dims=64).cache()
    row = emb.first()
    assert len(row["embedding"]) == 64
    q = similarity.quantize_int8(emb, id_col="doc_id")
    assert q.count() == emb.count()
    topk = similarity.cosine_topk(
        emb.limit(50), emb.limit(5), k=3, id_col="doc_id"
    )
    assert topk.groupBy("query_id").count().collect()[0]["count"] == 3
    emb.unpersist()


def test_rerank_topk_recall_vs_exact(spark, emb):
    exact = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    rer = similarity.quantized_rerank_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, shortlist=20
    )
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in rer.collect()}
    assert len(got) == 50
    recall = len(ex & got) / len(ex)
    assert recall >= 0.9, recall


def test_point_in_interval_join_semantics(spark):
    from datetime import datetime

    from clickstreamtoclickhouse_spark.functions import rangejoin

    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    points = spark.createDataFrame(
        [
            (1, "k", ts("2024-01-01 10:00:00")),  # == start: included
            (2, "k", ts("2024-01-01 10:59:59")),  # inside
            (3, "k", ts("2024-01-01 11:00:00")),  # == end: excluded
            (4, "k", ts("2024-01-01 09:59:59")),  # before
            (5, "other", ts("2024-01-01 10:30:00")),  # wrong key
        ],
        "pid INT, key STRING, p_ts TIMESTAMP",
    )
    intervals = spark.createDataFrame(
        [
            (100, "k", ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
            # multi-bucket span (> bucket_seconds wide)
            (200, "k", ts("2024-01-01 09:00:00"), ts("2024-01-01 12:00:00")),
            # inverted interval: must match nothing, not explode backward
            (300, "k", ts("2024-01-01 12:00:00"), ts("2024-01-01 09:00:00")),
        ],
        "iid INT, key STRING, w_start TIMESTAMP, w_end TIMESTAMP",
    )
    got = rangejoin.point_in_interval_join(
        points,
        intervals,
        point_ts="p_ts",
        start="w_start",
        end="w_end",
        keys=("key",),
        bucket_seconds=600,
    )
    pairs = sorted((r["iid"], r["pid"]) for r in got.collect())
    # half-open: pid 3 (== end) excluded from 100 but inside 200;
    # each match appears exactly once despite multi-bucket explode
    assert pairs == [(100, 1), (100, 2), (200, 1), (200, 2), (200, 3), (200, 4)]


def test_click_attribution_no_nested_loop(spark):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plans.QUERIES["click_attribution"](spark, SF_DIR).explain("formatted")
    txt = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in txt
    assert "CartesianProduct" not in txt


def test_merge_upsert_semantics_and_idempotency(spark):
    from clickstreamtoclickhouse_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id INT, name STRING, v INT"
    )
    updates = spark.createDataFrame(
        [
            (2, "b2", 21, 5, False),   # update (latest of two versions)
            (2, "b1", 19, 4, False),   # stale version, must lose
            (3, None, 0, 9, True),     # tombstone -> delete id 3
            (4, "d", 40, 1, False),    # insert
        ],
        "id INT, name STRING, v INT, ver INT, deleted BOOLEAN",
    )
    out = merge_upsert(
        base, updates, keys=["id"], version_col="ver", delete_col="deleted"
    )
    got = sorted((r["id"], r["name"], r["v"]) for r in out.collect())
    assert got == [(1, "a", 10), (2, "b2", 21), (4, "d", 40)]
    # idempotent: applying the same batch to the merged result is a no-op
    again = merge_upsert(
        out, updates, keys=["id"], version_col="ver", delete_col="deleted"
    )
    assert sorted((r["id"], r["name"], r["v"]) for r in again.collect()) == got


def test_portable_minhash_recall_vs_exact_jaccard(spark):
    # LSH candidates are a SUBSET of all pairs; every surviving pair
    # with high estimated similarity must be a true near-dup pair, and
    # recall on the planted 80%-truncation pairs should be substantial
    # (P[catch] = 1-(1-s^4)^4 ~ 0.88 at s=0.8).
    from clickstreamtoclickhouse_spark.functions import dedup_text
    from clickstreamtoclickhouse_spark.plans import load
    from clickstreamtoclickhouse_spark.plans.ext import _near_dup_corpus

    corpus = _near_dup_corpus(load(spark, SF_DIR, "documents"))
    got = dedup_text.minhash_portable_pairs(corpus, threshold=0.5)
    exact = dedup_text.jaccard_pairs(corpus, threshold=0.5, n=3)
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}
    exact_pairs = {(r["doc_a"], r["doc_b"]) for r in exact.collect()}
    assert exact_pairs, "planted corpus must produce exact pairs"
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall > 0.6, f"minhash recall {recall:.2f} too low"


def test_portable_simhash_identical_docs_hamming_zero(spark):
    from clickstreamtoclickhouse_spark.functions import dedup_text
    from clickstreamtoclickhouse_spark.plans import load
    from clickstreamtoclickhouse_spark.plans.ext import _dup_corpus

    corpus = _dup_corpus(load(spark, SF_DIR, "documents"))
    pairs = dedup_text.simhash_portable_near_dup_pairs(corpus, max_hamming=0)
    rows = pairs.collect()
    assert rows, "exact copies must collide at hamming 0"
    assert all(r["hamming"] == 0 for r in rows)
    # every planted (orig, orig+offset) copy pair must be found:
    # identical text -> identical fingerprint -> identical bands
    found = {(r["doc_a"], r["doc_b"]) for r in rows}
    n_docs = load(spark, SF_DIR, "documents").count()
    planted = sum(1 for a, b in found if b - a == 1_000_000)
    assert planted == n_docs


def test_portable_simhash_light_edit_recall(spark):
    # the registered query's regime: two appended words = two changed
    # trailing shingles; a wide fingerprint keeps most such pairs
    # within hamming 3 (measured ~0.57 at sf0.01 — doc-length
    # dependent, shorter docs flip more bits)
    from clickstreamtoclickhouse_spark.functions import dedup_text
    from clickstreamtoclickhouse_spark.plans import load
    from clickstreamtoclickhouse_spark.plans.ext import _light_edit_corpus

    corpus = _light_edit_corpus(load(spark, SF_DIR, "documents"))
    pairs = dedup_text.simhash_portable_near_dup_pairs(corpus, max_hamming=3)
    found = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    n_docs = load(spark, SF_DIR, "documents").count()
    planted = sum(1 for a, b in found if b - a == 1_000_000)
    assert planted >= 0.4 * n_docs, f"light-edit recall {planted}/{n_docs}"


def test_banded_bucket_cap_drops_hot_cluster_only(spark):
    # a mass of byte-equal docs shares every band key -> quadratic
    # bucket; the cap must suppress pairs among them while ordinary
    # planted near-dups keep flowing (for both banded families)
    from pyspark.sql import functions as F
    from clickstreamtoclickhouse_spark.functions import dedup_text
    from clickstreamtoclickhouse_spark.plans import load
    from clickstreamtoclickhouse_spark.plans.ext import (
        _hot_cluster_corpus,
        _hot_light_corpus,
    )

    docs = load(spark, SF_DIR, "documents")
    for corpus, pair_fn in [
        (
            _hot_cluster_corpus(docs),
            lambda c, cap: dedup_text.minhash_portable_pairs(
                c, threshold=0.5, max_bucket_size=cap
            ),
        ),
        (
            _hot_light_corpus(docs),
            lambda c, cap: dedup_text.simhash_portable_near_dup_pairs(
                c, max_hamming=3, max_bucket_size=cap
            ),
        ),
    ]:
        uncapped = pair_fn(corpus, None)
        in_hot = (F.col("doc_a") >= 3_000_000) & (F.col("doc_b") >= 3_000_000)
        assert uncapped.filter(in_hot).count() >= 20 * 19 / 2
        capped = pair_fn(corpus, 8)
        assert capped.filter(in_hot).count() == 0
        # ordinary planted pairs survive the cap
        planted = capped.filter(
            (F.col("doc_b") - F.col("doc_a") == 1_000_000)
            & (F.col("doc_a") < 3_000_000)
        ).count()
        assert planted > 0


def test_corpus_build_manifest_stage_invariants(spark):
    from collections import defaultdict

    rows = plans.QUERIES["corpus_build_manifest"](spark, SF_DIR).collect()
    assert rows
    # benchmark holdout never leaks into the training manifest
    assert all(r["doc_id"] % 25 != 0 for r in rows)
    # the cascade actually filters (quality gate + calibration decile)
    n_base = plans.load(spark, SF_DIR, "documents").filter(
        "length(trim(text)) > 0 AND doc_id % 25 <> 0"
    ).count()
    assert 0 < len(rows) < n_base
    # steps are contiguous 1..k within each reader shard
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r["step"])
    for steps in by_shard.values():
        assert sorted(steps) == list(range(1, len(steps) + 1))
    assert set(by_shard) <= set(range(8))
    assert all(r["n_tokens"] > 0 for r in rows)


def test_kmv_exact_below_k_and_cap_subset_invariant(spark):
    # KMV boundary: below k distinct hashes the sketch IS the exact
    # count (no estimator error at all)
    from clickstreamtoclickhouse_spark.plans.relational import (
        _KMV_K,
        _kmv_estimate,
    )
    from clickstreamtoclickhouse_spark.util import portable_id_hash
    from pyspark.sql import functions as F

    n = _KMV_K - 10
    e = spark.createDataFrame(
        [("click", i % n) for i in range(500)], "event_type string, user_id long"
    )
    hs = e.select(
        "event_type", portable_id_hash(F.col("user_id")).alias("h")
    ).distinct()
    est = _kmv_estimate(hs).collect()[0]["approx_users"]
    assert est == float(n)

    # hot-bucket cap invariant: capped pair sets are SUBSETS of the
    # uncapped ones (the guard can only remove candidates)
    from clickstreamtoclickhouse_spark.functions import dedup_text
    from clickstreamtoclickhouse_spark.plans import load
    from clickstreamtoclickhouse_spark.plans.ext import _near_dup_corpus

    corpus = _near_dup_corpus(load(spark, SF_DIR, "documents").limit(100))
    for fn in (
        lambda c, cap: dedup_text.minhash_portable_pairs(
            c, threshold=0.5, max_bucket_size=cap
        ),
        lambda c, cap: dedup_text.simhash_portable_near_dup_pairs(
            c, max_hamming=3, max_bucket_size=cap
        ),
    ):
        full = {(r["doc_a"], r["doc_b"]) for r in fn(corpus, None).collect()}
        capped = {(r["doc_a"], r["doc_b"]) for r in fn(corpus, 3).collect()}
        assert capped <= full


def test_incremental_embedding_dedup_semantics(spark):
    # planted: +0.01 perturbations of corpus members must be REJECTED
    # (verified near-dups), genuinely new vectors must be ADMITTED —
    # cluster-mates sharing buckets are not enough to drop (the
    # exact-cosine verify restores precision)
    out = {r["vec_id"] for r in
           plans.QUERIES["incremental_embedding_dedup"](spark, SF_DIR).collect()}
    assert not any(v >= 1_000_000 for v in out), "perturbed copies admitted"
    fresh_expected = set(range(250, 300))
    assert out <= fresh_expected
    # near-total admission: fresh vectors are distinct originals, so
    # only a true fresh-fresh near-dup (none planted) could drop one
    assert len(out) >= 45, f"only {len(out)}/50 fresh admitted"


def test_incremental_embedding_dedup_first_batch_and_index_growth(spark):
    from clickstreamtoclickhouse_spark.functions import similarity

    emb = plans.load(spark, SF_DIR, "embeddings").filter("vec_id < 40")
    batch = emb.select("vec_id", "embedding")
    fresh, fb, fv = similarity.incremental_lsh_dedup(
        batch, None, None, dim=64
    )
    ids = {r["vec_id"] for r in fresh.collect()}
    assert ids == set(range(40))  # no near-dups among originals
    # index rows appear only for admitted vectors
    assert fv.count() == 40
    assert {r["vec_id"] for r in fb.select("vec_id").distinct().collect()} == ids
    # second batch: resend two admitted vectors -> both rejected
    again = emb.filter("vec_id < 2").select("vec_id", "embedding")
    fresh2, _, _ = similarity.incremental_lsh_dedup(again, fb, fv, dim=64)
    assert fresh2.count() == 0


def test_epoch_shuffle_is_a_permutation_per_epoch(spark):
    from collections import defaultdict

    rows = plans.QUERIES["epoch_shuffle"](spark, SF_DIR).collect()
    n_docs = plans.load(spark, SF_DIR, "documents").count()
    by_epoch = defaultdict(list)
    for r in rows:
        by_epoch[r["epoch"]].append(r)
    assert set(by_epoch) == {0, 1}
    orders = {}
    for e, rs in by_epoch.items():
        # every doc exactly once per epoch
        assert sorted(r["doc_id"] for r in rs) == sorted(range(n_docs))
        # steps are contiguous 1..k within each shard
        shard_steps = defaultdict(list)
        for r in rs:
            shard_steps[r["shard"]].append(r["step"])
        for steps in shard_steps.values():
            assert sorted(steps) == list(range(1, len(steps) + 1))
        orders[e] = [r["doc_id"] for r in sorted(rs, key=lambda r: (r["shard"], r["step"]))]
    # epochs reshuffle: the global (shard, step) orders differ
    assert orders[0] != orders[1]


def test_media_perceptual_dedup_clusters_one_byte_edits(spark):
    # a length-preserving one-byte edit must land most copies in the
    # same aHash cluster as their original (measured ~0.78 at sf0.01;
    # exact md5 dedup catches none of these), with the original as
    # keeper; untouched singletons stay alone
    from pyspark.sql import functions as F

    out = plans.QUERIES["media_perceptual_dedup"](spark, SF_DIR).cache()
    n_docs = plans.load(spark, SF_DIR, "documents").count()
    multi = out.filter(F.col("n_items") >= 2)
    n_multi = multi.count()
    assert n_multi >= 0.6 * n_docs
    # nearly all multi-item clusters pair an original with its copy
    # (min id wins); a couple of copy-copy hash collisions are normal
    # for a 16-bit hash over 1000 items
    assert multi.filter(F.col("keeper_id") >= 1_000_000).count() <= 0.02 * n_multi
    out.unpersist()


def test_negative_sampling_keys_in_part_domain(spark):
    # draws must land in TPC-H's 1-based 1..|part| key domain and
    # never reference a positive (customer, part) interaction
    from pyspark.sql import functions as F

    out = plans.QUERIES["negative_sampling_pairs"](spark, SF_DIR).cache()
    part = plans.load(spark, SF_DIR, "part")
    # every sampled key resolves to a real part row
    assert out.join(
        part, out.neg_partkey == part.p_partkey, "left_anti"
    ).count() == 0
    out.unpersist()


def test_portable_hyperplane_lsh_recall(spark):
    # every planted (original, +0.01 copy) pair (cosine ~0.9968) must
    # survive: per-table bucket-match P ~ 0.81, miss across 6 tables
    # ~ 4e-5 — a miss at n=50 pairs indicates a broken plane/bucket
    from clickstreamtoclickhouse_spark.functions import similarity
    from clickstreamtoclickhouse_spark.plans.ext import (
        EMB_DIM, _perturbed_embeddings,
    )
    from clickstreamtoclickhouse_spark.plans import load

    corpus = _perturbed_embeddings(load(spark, SF_DIR, "embeddings"))
    pairs = similarity.lsh_portable_near_dup_pairs(
        corpus, dim=EMB_DIM, threshold=0.995, num_tables=6, bits=8
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    base_ids = [
        r["vec_id"]
        for r in corpus.filter("vec_id < 1000000").select("vec_id").collect()
    ]
    found = sum(1 for i in base_ids if (i, i + 1_000_000) in got)
    assert found == len(base_ids), f"recall {found}/{len(base_ids)}"


def test_observation_metrics_single_pass(spark):
    from clickstreamtoclickhouse_spark.operators.observe import (
        with_ingest_metrics,
    )
    from clickstreamtoclickhouse_spark.plans import load

    e = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    observed, obs = with_ingest_metrics(e, value_col="value")
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["n_rows"] == e.count()
    assert m["nulls_event_id"] == 0
    assert abs(m["sum_value"] - e.agg({"value": "sum"}).first()[0]) < 1e-6


def test_pq_topk_recall_vs_exact(spark):
    """PQ ADC + re-rank must recover most exact-L2 top-5 neighbors
    (0.86 measured at both sf0.001 and sf0.01 with M=16,K=32,SL=20)."""
    from pyspark.sql.window import Window

    from clickstreamtoclickhouse_spark.plans.corpus import _PQ_SCALE

    pq = plans.QUERIES["embedding_pq_topk"](spark, SF_DIR)
    got = {(r["query_id"], r["neighbor_id"]) for r in pq.collect()}
    emb = (
        plans.load(spark, SF_DIR, "embeddings")
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.round(x * _PQ_SCALE, 0),
            ).alias("v"),
        )
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    d = (
        q.crossJoin(emb)
        .filter(F.col("qid") != F.col("vec_id"))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("v"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy("d", "vec_id")
    exact = {
        (r["qid"], r["vec_id"])
        for r in d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    assert len(got) == len(exact) == 50
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, recall


def test_bloom_dedup_no_false_negatives(spark):
    """Bloom filters never miss a true member: every exact-copy query
    doc must be flagged; truncated (unseen) docs must be exact_dup=0
    with only a deterministic handful of false positives."""
    out = plans.QUERIES["bloom_dedup_docs"](spark, SF_DIR).collect()
    copies = [r for r in out if 1_000_000 <= r["doc_id"] < 2_000_000]
    trunc = [r for r in out if r["doc_id"] >= 2_000_000]
    assert len(copies) == len(trunc) > 0
    assert all(r["bloom_hit"] == 1 and r["exact_dup"] == 1 for r in copies)
    assert all(r["exact_dup"] == 0 for r in trunc)
    fp = sum(r["bloom_hit"] for r in trunc)
    # m=8192, k=4, ~n/2 inserts -> FP rate well under 1%
    assert fp <= max(2, len(trunc) // 100), fp


def test_repetition_filters_flag_planted_repetition(spark):
    """A doc that is one phrase repeated must fail the filters; the
    organic testdata docs overwhelmingly pass."""
    from clickstreamtoclickhouse_spark.plans.corpus import (
        _DUP_NS,
        _TOP_NS,
        ngram_repetition_filters,
    )

    out = ngram_repetition_filters(spark, SF_DIR)
    frac_cols = [f"top{n}_frac" for n in _TOP_NS] + [
        f"dup{n}_frac" for n in _DUP_NS
    ]
    rows = out.collect()
    pass_rate = sum(r["rep_pass"] for r in rows) / len(rows)
    assert pass_rate >= 0.5, pass_rate
    # planted: pure repetition -> every signal saturates
    planted = spark.createDataFrame(
        [
            (1, "the quick brown fox " * 30),
            # long + diverse: occupancy fractions need enough chars to
            # dilute any single n-gram below the thresholds
            (2, " ".join(f"word{i}" for i in range(60))),
        ],
        "doc_id long, text string",
    )
    import clickstreamtoclickhouse_spark.plans.registry as reg

    orig = reg.load
    try:
        reg.load = lambda s, sf, t: planted  # noqa: E731
        import clickstreamtoclickhouse_spark.plans.corpus as corpus_mod

        orig2 = corpus_mod.load
        corpus_mod.load = lambda s, sf, t: planted
        try:
            p = {r["doc_id"]: r for r in corpus_mod.ngram_repetition_filters(spark, SF_DIR).collect()}
        finally:
            corpus_mod.load = orig2
    finally:
        reg.load = orig
    assert p[1]["rep_pass"] == 0
    for c in frac_cols:
        assert p[1][c] > 0.5, (c, p[1][c])
    assert p[2]["rep_pass"] == 1


def test_bpe_merges_match_serial_reference(spark):
    """The distributed BPE loop must equal a straightforward serial
    BPE trainer (independent reimplementation) on the same corpus."""
    import collections

    import duckdb

    from clickstreamtoclickhouse_spark.plans.corpus import _BPE_ROUNDS

    vocab = duckdb.sql(
        f"""SELECT w, count(*) c FROM (
              SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
              FROM read_parquet('{SF_DIR}/documents.parquet')
              WHERE length(trim(text)) > 0) GROUP BY w"""
    ).fetchall()
    words = {w: (list(w), c) for w, c in vocab}
    expect = []
    for t in range(_BPE_ROUNDS):
        counts = collections.Counter()
        for syms, c in words.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        expect.append((t + 1, a, b, cnt))
        for w, (syms, c) in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = (out, c)
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in plans.QUERIES["bpe_merges"](spark, SF_DIR)
        .orderBy("rank")
        .collect()
    ]
    assert got == expect


def test_transition_pagerank_matches_power_iteration(spark):
    """Third-party check (beyond the DuckDB oracle): a dense numpy
    power iteration with the same rounding schedule must produce the
    same scores and ranking."""
    import duckdb
    import numpy as np

    rows = duckdb.sql(
        f"""SELECT prev, event_type, count(*) n FROM (
              SELECT event_type,
                     lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS prev
              FROM read_parquet('{SF_DIR}/events.parquet'))
            WHERE prev IS NOT NULL GROUP BY 1, 2"""
    ).fetchall()
    nodes = sorted(
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT event_type FROM read_parquet('{SF_DIR}/events.parquet')"
        ).fetchall()
    )
    idx = {t: i for i, t in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    out = {}
    for a, b, c in rows:
        out[a] = out.get(a, 0) + c
    for a, b, c in rows:
        W[idx[a], idx[b]] = c * 1.0 / out[a]
    d, base = 0.85, (1 - 0.85) / n
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        r = np.round(base + d * (r @ W), 9)
    got = {
        x["event_type"]: (x["rank_score"], x["rank"])
        for x in plans.QUERIES["transition_pagerank"](spark, SF_DIR).collect()
    }
    order = sorted(range(n), key=lambda i: (-round(r[i], 9), nodes[i]))
    for pos, i in enumerate(order, 1):
        score, rank = got[nodes[i]]
        assert rank == pos
        assert abs(score - round(r[i], 6)) < 2e-6, (nodes[i], score, r[i])


def test_repetition_gram_build_equals_hof_form(spark, docs):
    """The codegen lead-window gram build must emit exactly the grams
    of the reference array-slice/zip_with (tx._ngrams) form."""
    from pyspark.sql.window import Window

    from clickstreamtoclickhouse_spark.functions import text as tx

    ns = (3, 4, 5, 6)
    d = docs.limit(100)
    ws = tx.words(F.lower(F.col("text")))

    def tag(n):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))

    hof = d.select(
        "doc_id",
        F.explode(
            F.concat(*[F.transform(tx._ngrams(ws, n), tag(n)) for n in ns])
        ).alias("x"),
    ).select("doc_id", "x.n", "x.g")
    tok = d.select(
        "doc_id", F.posexplode(tx.words(F.lower(F.col("text")))).alias("pos", "w")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    leads = tok.select(
        "doc_id", "w",
        *[F.lead("w", k).over(wd).alias(f"l{k}") for k in range(1, max(ns))],
    )

    def gram(n):
        parts = [F.col("w")] + [F.col(f"l{k}") for k in range(1, n)]
        return F.when(F.col(f"l{n - 1}").isNotNull(), F.concat_ws(" ", *parts))

    win = (
        leads.select(
            "doc_id",
            F.explode(
                F.array(
                    *[F.struct(F.lit(n).alias("n"), gram(n).alias("g")) for n in ns]
                )
            ).alias("x"),
        )
        .select("doc_id", "x.n", "x.g")
        .filter(F.col("g").isNotNull())
    )
    assert hof.exceptAll(win).count() == 0
    assert win.exceptAll(hof).count() == 0


def test_dsir_upweights_target_language_docs(spark):
    """DSIR's whole point: docs drawn from the target distribution
    (here lang='en') must receive higher importance weights on average
    than the rest, and the deterministic resample must be exactly
    _DSIR_SELECT_K docs."""
    from clickstreamtoclickhouse_spark.plans.corpus import (
        _DSIR_SELECT_K,
        _DSIR_TARGET_LANG,
    )

    sc = plans.QUERIES["dsir_importance_weights"](spark, SF_DIR)
    docs = plans.load(spark, SF_DIR, "documents").select("doc_id", "lang")
    j = sc.join(docs, "doc_id")
    means = dict(
        j.groupBy(F.col("lang") == _DSIR_TARGET_LANG)
        .agg(F.avg("avg_log_ratio").alias("m"))
        .collect()
    )
    assert means[True] > means[False]
    assert j.filter("selected = 1").count() == _DSIR_SELECT_K


def test_hashed_classifier_scores_are_calibrated_sigmoid(spark):
    """prob must equal sigmoid(logit) row-wise and `positive` must be
    the 0-threshold of the raw activation."""
    import math

    rows = plans.QUERIES["hashed_classifier_scores"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert abs(r.prob - 1.0 / (1.0 + math.exp(-r.logit))) < 1e-4
        assert r.positive == (1 if r.logit > 0 else 0)


def test_filter_cascade_is_a_consistent_funnel(spark):
    """Cascade invariants: each stage's n_out equals the next stage's
    n_in, rejections add up, and the dedup stage removes exactly the
    injected exact copies that survived the filter stages."""
    rows = sorted(
        plans.QUERIES["filter_cascade_report"](spark, SF_DIR).collect(),
        key=lambda r: r.stage_idx,
    )
    assert [r.stage for r in rows] == [
        "nonempty", "word_count", "word_shape",
        "stopwords", "repetition", "exact_dedup",
    ]
    for r in rows:
        assert r.n_in - r.n_rejected == r.n_out
    for prev, nxt in zip(rows, rows[1:]):
        assert prev.n_out == nxt.n_in
    dedup = rows[-1]
    # injected corpus doubles every doc: surviving pairs lose one copy
    assert dedup.n_rejected == dedup.n_out


def test_decontamination_catches_all_planted_leaks(spark):
    """Every 80%-truncated copy of a benchmark doc must share >=1 of
    the 8 recall-biased (r=2) bands; false positives stay rare."""
    sf = "/root/testdata/sf0.01"
    flagged = {
        r["doc_id"]
        for r in plans.QUERIES["minhash_decontamination"](spark, sf).collect()
    }
    docs = plans.load(spark, sf, "documents")
    planted = {
        r["doc_id"] + 1_000_000
        for r in docs.filter("source = 'src0'").select("doc_id").collect()
    }
    n_clean = docs.filter("source <> 'src0'").count()
    assert planted <= flagged, f"missed {len(planted - flagged)} planted leaks"
    fp = len(flagged - planted)
    assert fp / n_clean < 0.05, f"{fp} false positives of {n_clean} clean docs"


def test_leakage_safe_split_never_splits_near_dups(spark, docs):
    """The invariant the operator exists for: no Jaccard>=0.5 pair may
    straddle splits — including each doc and its truncated copy."""
    corpus = _near_dup_corpus(docs)
    split = {
        r["doc_id"]: r["split"]
        for r in plans.QUERIES["leakage_safe_split"](spark, SF_DIR).collect()
    }
    assert set(split.values()) >= {"train"}
    pairs = dedup_text.jaccard_pairs(corpus, threshold=0.5, n=3).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert split[r["doc_a"]] == split[r["doc_b"]], (r["doc_a"], r["doc_b"])
    # ~80/10/10 by cluster: train must dominate
    from collections import Counter

    c = Counter(split.values())
    assert c["train"] > c.get("val", 0) and c["train"] > c.get("test", 0)


def test_corpus_release_report_invariants(spark):
    m = {r["metric"]: r["value"]
         for r in plans.QUERIES["corpus_release_report"](
             spark, "/root/testdata/sf0.01").collect()}
    assert m["n_docs"] == 500.0
    assert m["n_langs"] == 5.0 and m["n_sources"] == 20.0
    assert 0.0 <= m["english_share"] <= 1.0
    assert m["exact_dup_rate"] == 0.0  # corpus has no exact dups
    assert 0.0 < m["gopher_pass_rate"] <= 1.0
    assert abs(m["mean_doc_tokens"] - m["n_tokens_ws"] / m["n_docs"]) < 1e-4


def test_shared_shingle_table_equivalence(spark, docs):
    """Round-6 refactor pin: injecting a precomputed (did, shingle,
    hash) table into the three pair pipelines must be result-identical
    to letting each derive its own."""
    corpus = _near_dup_corpus(docs)
    sh = dedup_text._doc_shingles(corpus, "doc_id", "text", 3).withColumn(
        "h", dedup_text._portable_hash(F.col("shingle"))
    ).localCheckpoint(eager=True)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(
        dedup_text.jaccard_pairs(corpus, threshold=0.5, n=3, shingles=sh)
    ) == rows(dedup_text.jaccard_pairs(corpus, threshold=0.5, n=3))
    assert rows(
        dedup_text.minhash_portable_pairs(corpus, threshold=0.5, n=3, shingles=sh)
    ) == rows(dedup_text.minhash_portable_pairs(corpus, threshold=0.5, n=3))
    assert rows(
        dedup_text.simhash_portable_near_dup_pairs(corpus, max_hamming=3, n=3, shingles=sh)
    ) == rows(dedup_text.simhash_portable_near_dup_pairs(corpus, max_hamming=3, n=3))


def test_embedding_decontamination_catches_planted_leaks_only(spark):
    """Semantic screen: every +0.01-perturbed benchmark copy flagged
    (cos ~0.9968 >= 0.99); same-cluster non-leaks (cos ~0.84) that
    share LSH buckets must be discarded by the exact-verify stage."""
    sf = "/root/testdata/sf0.01"
    rows = plans.QUERIES["embedding_decontamination"](spark, sf).collect()
    flagged = {r["vec_id"] for r in rows}
    planted = {i + 1_000_000 for i in range(50)}
    assert planted <= flagged, f"missed {len(planted - flagged)} planted leaks"
    assert flagged == planted, f"{len(flagged - planted)} false positives"
    assert all(r["max_sim"] >= 0.99 for r in rows)


def test_hard_negative_mining_excludes_same_label(spark):
    """Planted near-twin with the SAME label must never surface as a
    hard negative, while the most-similar other-label vector ranks
    first — the property the label filter exists for."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),   # anchor
        (1, [0.999, 0.01, 0.0, 0.0], 0),  # same-label twin: excluded
        (2, [0.95, 0.3, 0.0, 0.0], 1),  # best other-label: rank 1
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, 0.0, 1.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    anchors = emb.filter(F.col("vec_id") == 0)
    out = similarity.cosine_topk(
        emb, anchors, k=3, exclude_label_col="label"
    ).collect()
    ids = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert 1 not in ids, ids
    assert ids[0] == 2, ids


def test_resize_image_thumbnail_shape_and_determinism(spark, docs):
    media = multimodal.synth_media_from_documents(docs.limit(4), kind="image")
    thumbs = {r.media_id: r for r in multimodal.resize_image(media, 4, 4).collect()}
    assert len(thumbs) == 4
    for r in thumbs.values():
        assert r.width == 4 and r.height == 4
        assert len(r.thumbnail) == 16
        assert all(0 <= x <= 255 for x in r.thumbnail)
    again = {r.media_id: r.thumbnail for r in multimodal.resize_image(media, 4, 4).collect()}
    assert again == {k: r.thumbnail for k, r in thumbs.items()}
    # non-image rows are filtered, not crashed on
    vid = multimodal.synth_media_from_documents(docs.limit(2), kind="video")
    assert multimodal.resize_image(vid, 4, 4).count() == 0


def test_kmv_set_operations_accuracy(spark):
    from .conftest import SF_DIR_MED

    row = plans.QUERIES["kmv_set_operations"](spark, SF_DIR_MED).collect()[0]
    e = plans.load(spark, SF_DIR_MED, "events")
    purchasers = e.filter("event_type = 'purchase'").select("user_id").distinct()
    clickers = e.filter("event_type = 'click'").select("user_id").distinct()
    n_a = purchasers.count()
    n_b = clickers.count()
    n_i = purchasers.intersect(clickers).count()
    n_u = n_a + n_b - n_i
    # rse ~ 1/sqrt(k-2) ≈ 6% at k=256; intersection compounds two
    # sketches, so allow a wider band there
    assert abs(row.est_purchasers - n_a) / n_a < 0.25
    assert abs(row.est_clickers - n_b) / n_b < 0.25
    assert abs(row.est_union - n_u) / n_u < 0.25
    assert abs(row.est_intersection - n_i) / max(n_i, 1) < 0.40
    assert abs(row.est_jaccard - n_i / n_u) < 0.25


def test_event_type_lead_lag_semantics(spark):
    from .conftest import SF_DIR_MED

    rows = {r.lag: r for r in plans.QUERIES["event_type_lead_lag"](
        spark, SF_DIR_MED).collect()}
    assert set(rows) == {-3, -2, -1, 0, 1, 2, 3}
    for r in rows.values():
        assert r.n > 0
        if r.xcorr is not None:
            assert -1.0 - 1e-9 <= r.xcorr <= 1.0 + 1e-9
    # hand-computed lag-0 correlation on collected day sums
    import math

    e = plans.load(spark, SF_DIR_MED, "events").filter(
        "event_type in ('click','purchase')"
    )
    day = e.groupBy(
        F.to_date("ts").alias("d"), "event_type"
    ).agg(F.round(F.sum("value"), 4).alias("v")).collect()
    xs = {r.d: r.v for r in day if r.event_type == "click"}
    ys = {r.d: r.v for r in day if r.event_type == "purchase"}
    common = sorted(set(xs) & set(ys))
    n = len(common)
    sx = sum(xs[d] for d in common); sy = sum(ys[d] for d in common)
    sxy = sum(xs[d] * ys[d] for d in common)
    sxx = sum(xs[d] ** 2 for d in common); syy = sum(ys[d] ** 2 for d in common)
    ref = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert abs(rows[0].xcorr - ref) < 1e-3
    assert rows[0].n == n


def test_classifier_eval_report_binned_roc_invariants(spark):
    rows = sorted(
        plans.QUERIES["classifier_eval_report"](spark, SF_DIR).collect(),
        key=lambda r: -r.bin,
    )
    assert rows
    # cumulative ROC points are monotone non-decreasing from the top
    # bin down, ending at (1, 1); AUC in [0, 1] and constant
    assert rows[-1].tpr == 1.0 and rows[-1].fpr == 1.0
    for a, b in zip(rows, rows[1:]):
        assert b.tpr >= a.tpr and b.fpr >= a.fpr
    aucs = {r.auc for r in rows}
    assert len(aucs) == 1
    auc = aucs.pop()
    assert 0.0 <= auc <= 1.0
    # hand-computed binned AUC from raw counts reproduces the column
    p = sum(r.n_pos for r in rows)
    nn = sum(r.n - r.n_pos for r in rows)
    cp = 0
    acc = 0
    for r in rows:  # descending bins
        cp += r.n_pos
        acc += (r.n - r.n_pos) * (2 * cp - r.n_pos)
    assert abs(auc - acc / (2 * p * nn)) < 1e-6
