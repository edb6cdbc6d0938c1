"""Round-10 behavioral pins: NULL-ts accounting in the late monitor
plus round-10 additions."""
from __future__ import annotations

import json as _json

from pyspark.sql import functions as F

from clickstreamtoclickhouse_spark.sinks.txlog import TxLogTable


# -- ADVICE r9 #1: NULL event times must be quarantined, not dropped --


def test_late_monitor_quarantines_null_ts(spark, tmp_path):
    """A NULL event time can never fold into a window count, so the
    accounting contract (every row counted or quarantined) requires
    it to land in late_dir — both before any watermark exists (NULL
    `_watermark`) and after one does. Previously `~(ts < wm)` sent
    post-watermark NULL-ts rows to neither side."""
    from clickstreamtoclickhouse_spark.streaming import monitor

    landing = tmp_path / "null_in"
    landing.mkdir()
    # batch 1: one valid row (establishes max=10:00), one NULL ts —
    # quarantined even though no watermark exists yet
    with open(landing / "b1.json", "w") as f:
        f.write(_json.dumps({"ts": "2024-01-01 10:00:00", "v": 1}) + "\n")
        f.write(_json.dumps({"ts": None, "v": 2}) + "\n")
    stream = (
        spark.readStream.schema("ts timestamp, v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = monitor.streaming_late_arrival_monitor(
        stream,
        "ts",
        str(tmp_path / "null_counts"),
        str(tmp_path / "null_late"),
        str(tmp_path / "null_state"),
        str(tmp_path / "null_ckpt"),
        delay="1 hour",
        window="1 hour",
    )
    try:
        q.processAllAvailable()
        # batch 2: NULL ts again — now a watermark (09:00) exists and
        # is recorded on the quarantined row
        with open(landing / "b2.json", "w") as f:
            f.write(_json.dumps({"ts": None, "v": 3}) + "\n")
            f.write(
                _json.dumps({"ts": "2024-01-01 10:30:00", "v": 4}) + "\n"
            )
        q.processAllAvailable()
    finally:
        q.stop()

    late = {r.v: r for r in
            TxLogTable(str(tmp_path / "null_late")).read(spark).collect()}
    assert set(late) == {2, 3}
    assert late[2]._watermark is None  # pre-watermark: no wm to record
    assert str(late[3]._watermark) == "2024-01-01 09:00:00"
    counts = TxLogTable(str(tmp_path / "null_counts")).read(spark).collect()
    # v=1 and v=4 counted; accounting total = counted + quarantined
    assert sum(r.n_rows for r in counts) == 2


# -- verdict r9 #6: explicit eviction of the session caches --


def test_session_cache_unpersist_hooks(spark, tmp_path):
    """A long-lived app iterating over many sf_dirs accumulates one
    localCheckpoint per dir (the dead-appId sweep only reclaims OTHER
    apps' entries) — eviction must release per-dir or all, and the
    next call must rebuild fresh."""
    from clickstreamtoclickhouse_spark import plans, util
    from clickstreamtoclickhouse_spark.plans import tpch
    from clickstreamtoclickhouse_spark.plans.retrieval import (
        _TF_CACHE,
        _corpus_tf,
    )

    from .conftest import SF_DIR

    rows = [(0, "apple banana", "en", "s"), (1, "banana cherry", "en", "s")]
    schema = "doc_id long, text string, lang string, source string"
    d1 = tmp_path / "dir1"
    d2 = tmp_path / "dir2"
    for d in (d1, d2):
        spark.createDataFrame(rows, schema).write.parquet(
            str(d / "documents.parquet")
        )
    _TF_CACHE.clear()
    a1 = _corpus_tf(spark, str(d1))
    a2 = _corpus_tf(spark, str(d2))
    a1.count(), a2.count()  # materialize the checkpoints
    assert len(_TF_CACHE) == 2
    # per-dir eviction releases only that dir; rebuild is a new object
    assert _TF_CACHE.evict(str(d1)) == 1
    assert len(_TF_CACHE) == 1
    assert _corpus_tf(spark, str(d2)) is a2
    assert _corpus_tf(spark, str(d1)) is not a1
    # evict-all clears the rest
    assert _TF_CACHE.evict() == 2
    assert _TF_CACHE == {}

    # the registry-wide hook evicts the copurchase edges — and drops
    # the DERIVED triangle-count cache with them (r10: it checkpoints
    # off the edge build and must not outlive it)
    util.evict_session_caches(SF_DIR)  # no entry for the dir in any cache
    tpch._COPURCHASE_CACHE.clear()  # other dirs' entries: dropped, not
    tpch._TRIANGLE_CACHE.clear()  # released, so their holders still work
    e = tpch._copurchase_edges(spark, SF_DIR)
    assert len(tpch._COPURCHASE_CACHE) == 1
    assert util.evict_session_caches(SF_DIR) == 1
    assert tpch._COPURCHASE_CACHE == {}
    assert tpch._copurchase_edges(spark, SF_DIR) is not e
    # with triangle counts materialized, the hook evicts BOTH layers
    t = plans.QUERIES["part_copurchase_triangles"](spark, SF_DIR)
    t.count()
    assert len(tpch._TRIANGLE_CACHE) == 1
    assert util.evict_session_caches(SF_DIR) == 2
    assert tpch._TRIANGLE_CACHE == {} and tpch._COPURCHASE_CACHE == {}


def test_near_dup_shingle_cache_shared(spark):
    """Seven registered queries consume the near-dup corpus's 3-gram
    shingle table; the session cache must serve ONE build per
    (app, sf_dir) and keep the (did, shingle, h) contract."""
    from clickstreamtoclickhouse_spark.plans import ext

    ext._ND_SHINGLE_CACHE.clear()
    a = ext._near_dup_shingles(spark, "/root/testdata/sf0.001")
    b = ext._near_dup_shingles(spark, "/root/testdata/sf0.001")
    assert a is b
    assert set(a.columns) == {"did", "shingle", "h"}
    assert ext._ND_SHINGLE_CACHE.evict() == 1


# -- verdict r9 #4: hybrid RRF bucketed dense arm ---------------------


def test_bucketed_sem_arm_recall_vs_exact(spark):
    """The r10 hybrid_search_rrf primary generates semantic
    candidates through the hashed-BoW LSH index instead of scoring
    every shared-term doc. Pin its recall against the exact arm at
    the driver's correctness scale, plus the scale invariant: the
    re-rank must touch a strict subset of the corpus."""
    from clickstreamtoclickhouse_spark import plans
    from clickstreamtoclickhouse_spark.plans import retrieval as R

    sf = "/root/testdata/sf0.01"
    _, exact = R._retrieval_rankings(spark, sf)
    bucketed = R._bucketed_sem_rank(spark, sf)
    e10 = exact.filter(F.col("r") <= 10).select("query_id", "doc_id")
    b10 = bucketed.filter(F.col("r") <= 10).select("query_id", "doc_id")
    tot = e10.count()
    hit = e10.join(b10, ["query_id", "doc_id"]).count()
    assert tot == 30  # 3 queries x top-10
    # measured 25/30 = 0.83 at the shipped (64, 10, 8) constants;
    # floor at 0.7 to absorb testdata regeneration drift
    assert hit / tot >= 0.7, f"recall {hit}/{tot}"
    # scored candidates must be a strict subset of the corpus (the
    # exact arm scores ~every doc for stopword-bearing queries)
    n_docs = plans.load(spark, sf, "documents").count()
    scored = bucketed.select("doc_id").distinct().count()
    assert scored < n_docs, (scored, n_docs)
    # scores that ARE produced agree exactly with the exact arm (the
    # re-rank metric is the same integer TF-cosine)
    joined = (
        bucketed.select("query_id", "doc_id", F.col("sim").alias("bs"))
        .join(exact.select("query_id", "doc_id", "sim"),
              ["query_id", "doc_id"])
    )
    assert joined.filter(F.col("bs") != F.col("sim")).count() == 0


# -- round-10 additions: planted tests with independent references ----


def _write(spark, tmp_path, table, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/{table}.parquet")


def test_target_encoding_oof_independent_reference(spark, tmp_path):
    """OOF means recomputed by a pure-Python reference that shares
    NOTHING with the Spark plan (hashlib md5 folds, Fraction-exact
    arithmetic). Also pins the leakage property directly: a fold's
    encoding never includes its own rows."""
    import hashlib
    from fractions import Fraction

    from clickstreamtoclickhouse_spark import plans
    from clickstreamtoclickhouse_spark.plans.ext import (
        _TE_FOLDS,
        _TE_SMOOTH,
    )

    rows = [
        (i, "2024-01-01 00:00:00", i % 7,
         "click" if i % 3 else "purchase", float(i) + 0.25, "{}")
        for i in range(1, 61)
    ]
    schema = ("event_id long, ts string, user_id long, event_type string, "
              "value double, props string")
    _write(spark, tmp_path, "events", rows, schema)

    def fold(eid):
        return int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16) \
            % _TE_FOLDS

    cells: dict = {}
    for eid, _, _, et, v, _ in rows:
        f = fold(eid)
        n, s = cells.get((et, f), (0, 0))
        cells[(et, f)] = (n + 1, s + round(v * 100))
    tot = {}
    ftot = {}
    g_n = g_s = 0
    for (et, f), (n, s) in cells.items():
        tn, ts = tot.get(et, (0, 0))
        tot[et] = (tn + n, ts + s)
        fn, fs = ftot.get(f, (0, 0))
        ftot[f] = (fn + n, fs + s)
        g_n += n
        g_s += s

    out = {
        (r.event_type, r.fold): r
        for r in plans.QUERIES["target_encoding_oof"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == set(cells)
    for (et, f), (n, s) in cells.items():
        tn, ts = tot[et]
        r = out[(et, f)]
        assert r.n_oof == tn - n
        if tn > n:
            # the reference subtracts the fold's OWN rows before the
            # mean — matching it IS the leakage-safety property
            exp = Fraction(ts - s, 100 * (tn - n))
            assert abs(r.te_mean_value - float(exp)) < 1.5e-6
        fn, fs = ftot[f]
        prior = (g_s - fs) / (g_n - fn)
        exp_sm = ((ts - s) + _TE_SMOOTH * prior) / (
            100.0 * ((tn - n) + _TE_SMOOTH)
        )
        assert abs(r.te_mean_value_smoothed - exp_sm) < 1.5e-6


def test_pmi_collocations_planted(spark, tmp_path):
    """A bigram that ALWAYS co-occurs must out-score bigrams of
    frequent-but-independent words; a pair under the support floor
    must not appear; PMI values match a hand computation."""
    import math

    from clickstreamtoclickhouse_spark import plans

    # 'zyx qwv' occurs 6x and those words never appear apart;
    # 'the cat' occurs 6x but 'the'/'cat' are everywhere;
    # 'rare pair' occurs only 4x -> under the floor (5)
    docs = []
    for i in range(6):
        docs.append((i, "zyx qwv", "en", "s"))
        docs.append((10 + i, "the cat", "en", "s"))
        docs.append((20 + i, "the dog ate the cat food now", "en", "s"))
    for i in range(4):
        docs.append((30 + i, "rare pair", "en", "s"))
    _write(spark, tmp_path, "documents", docs,
           "doc_id long, text string, lang string, source string")

    out = plans.QUERIES["pmi_collocations"](spark, str(tmp_path)).collect()
    got = {(r.w1, r.w2): r for r in out}
    assert ("rare", "pair") not in got          # support floor
    assert ("zyx", "qwv") in got and ("the", "cat") in got
    assert got[("zyx", "qwv")].pmi > got[("the", "cat")].pmi
    # hand computation: N_uni = 6*2 + 6*2 + 6*7 + 4*2 = 74,
    # N_bi = 6*1 + 6*1 + 6*6 + 4*1 = 52
    n_uni, n_bi = 74, 52
    exp = math.log((6 * n_uni * n_uni) / (n_bi * 6 * 6))
    assert abs(got[("zyx", "qwv")].pmi - round(exp, 6)) < 2e-6
    # ranking is by pmi desc; the filler sentence's word-pairs (e.g.
    # 'dog ate', also 6x-exclusive) TIE with zyx/qwv and break on w1,
    # so pin the property, not a single winner: the top row carries
    # the maximal (always-together) PMI
    assert out[0].pmi == got[("zyx", "qwv")].pmi


def test_embedding_drift_planted_dimension_shift(spark, tmp_path):
    """Shift ONE dimension of the odd-id (current) population by a
    large offset: that dim must be flagged, the untouched dims must
    not, and the SMD must match the hand algebra."""
    import random

    from clickstreamtoclickhouse_spark import plans

    # n matters: SMD's null noise is ~sqrt(2/n) per group, so 1000
    # per group puts the un-shifted dims' SMD ~0.045 typical — safely
    # under the 0.1 flag while dim 5's shift towers over it
    rng = random.Random(7)
    rows = []
    for vid in range(2000):
        v = [round(rng.uniform(-1, 1), 3) for _ in range(64)]
        if vid % 2 == 1:
            v[5] += 10.0  # massive shift on dim 5 only
        rows.append((vid, v))
    _write(spark, tmp_path, "embeddings", rows,
           "vec_id long, embedding array<double>")

    out = {r.dim: r for r in plans.QUERIES["embedding_drift_report"](
        spark, str(tmp_path)).collect()}
    assert len(out) == 64
    assert out[5].drifted == 1 and out[5].smd > 5
    flagged = [d for d, r in out.items() if r.drifted == 1]
    # 63 null dims x P(|SMD| > 0.1 at n=1000) ~ 2.5% -> a couple of
    # false flags are EXPECTED (that's what the self-calibration
    # baseline in the docstring is for); the planted dim must tower
    assert 5 in flagged and len(flagged) <= 6
    assert all(out[d].smd < 0.2 for d in flagged if d != 5)
    assert all(r.n_ref == 1000 and r.n_cur == 1000 for r in out.values())
    assert abs(out[5].mean_cur - out[5].mean_ref - 10.0) < 0.1


def test_part_hits_authorities_planted(spark, tmp_path):
    """Hand-computed two-round HITS on a 3-customer bipartite graph:
    a part bought by well-connected customers must out-rank a part
    with the same raw purchase count but weaker buyers."""
    from clickstreamtoclickhouse_spark import plans

    # C1 -> {P1, P2}; C2 -> {P1}; C3 -> {P1, P3}
    orders = [(100, 1), (200, 2), (300, 3)]
    lineitem = [(100, 1), (100, 2), (200, 1), (300, 1), (300, 3)]
    _write(spark, tmp_path, "orders", orders,
           "o_orderkey long, o_custkey long")
    _write(spark, tmp_path, "lineitem", lineitem,
           "l_orderkey long, l_partkey long")

    out = {r.l_partkey: r for r in plans.QUERIES["part_hits_authorities"](
        spark, str(tmp_path)).collect()}
    # a1: P1=3 P2=1 P3=1; h1: C1=4 C2=3 C3=4; a2: P1=11 P2=4 P3=4
    assert out[1].authority_raw == 11
    assert out[2].authority_raw == 4 and out[3].authority_raw == 4
    assert out[1].rank == 1
    assert out[2].rank == 2 and out[3].rank == 3  # tie -> part id order
    assert out[1].authority == 1.0
    assert out[2].authority == round(4 / 11, 6)


def test_mmr_demotes_exact_duplicate(spark, tmp_path):
    """The MMR property on a crafted pool: an EXACT duplicate of an
    already-selected doc (sim = 1, rel TIED with its twin) must fall
    below a less-relevant but novel doc; the relevance-disjoint doc
    (zero sim to everything selected) wins rank 1 outright."""
    docs = [
        (0, "alpha beta gamma delta epsilon", "en", "s", 30),  # query
        (1, "zz1 zz2 zz3 zz4 zz5", "en", "s", 20),
        (2, "yy1 yy2 yy3 yy4 yy5", "en", "s", 20),
        (10, "alpha beta alpha beta", "en", "s", 20),
        (11, "alpha beta alpha beta", "en", "s", 20),  # exact dup of 10
        (12, "gamma delta epsilon", "en", "s", 20),
        (13, "gamma beta", "en", "s", 10),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    from clickstreamtoclickhouse_spark import plans

    out = sorted(
        (
            r
            for r in plans.QUERIES["mmr_diverse_topk"](
                spark, str(tmp_path)
            ).collect()
            if r.query_id == 0
        ),
        key=lambda r: r.mmr_rank,
    )
    order = [r.doc_id for r in out]
    assert order == [12, 10, 13, 11]
    rel = {r.doc_id: r.rel for r in out}
    assert rel[11] == rel[10]          # the dup TIES on relevance...
    assert rel[13] < rel[11]           # ...13 is strictly less relevant
    # ...yet MMR puts 13 ahead of 11: pure-rel ranking would not
    # greedy scores decrease along the selection order
    scores = [r.mmr_score for r in out]
    assert scores == sorted(scores, reverse=True)
