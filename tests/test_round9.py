"""Behavioral tests (planted positives/negatives) for the round-9
query family: memorization spans, source ablation, classifier
agreement, seasonality strength."""

from __future__ import annotations

from clickstreamtoclickhouse_spark import plans


def _write(spark, tmp_path, table, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/{table}.parquet")


DOC_SCHEMA = "doc_id long, text string, lang string, source string"


def test_memorization_span_planted(spark, tmp_path):
    """A 12-token verbatim copy of a benchmark span must report
    max_span_tokens=12 (risk=1 at the 8-token threshold); a single
    isolated 5-gram overlap reports exactly 5 (risk=0); a clean doc
    reports 0."""
    bench = ("alpha bravo charlie delta echo foxtrot golf hotel "
             "india juliet kilo lima")
    rows = [
        (0, bench, "en", "s0"),  # doc_id % 25 == 0 -> benchmark split
        (1, f"noise1 noise2 {bench} noise3 noise4", "en", "s1"),
        (2, "alpha bravo charlie delta echo zulu1 zulu2 zulu3 zulu4",
         "en", "s1"),
        (3, "pear plum fig date kiwi mango guava papaya melon",
         "en", "s1"),
    ]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    out = {
        r.doc_id: r
        for r in plans.QUERIES["memorization_span_report"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert (out[1].max_span_tokens, out[1].memorization_risk) == (12, 1)
    # 8 consecutive matching 5-gram positions inside the copied span
    assert out[1].n_hit_grams == 8
    assert (out[2].max_span_tokens, out[2].memorization_risk) == (5, 0)
    assert out[2].n_hit_grams == 1
    assert (out[3].n_hit_grams, out[3].max_span_tokens) == (0, 0)


def test_source_ablation_dup_rate_identity(spark, tmp_path):
    """Removing a source can make a cross-source duplicate group
    UNIQUE — the per-source correction must capture that: sA holds
    two copies of X plus Y, sB holds one X plus Z. Ablating sA leaves
    [X, Z] (dup rate 0); ablating sB leaves [X, X, Y] (dup rate 2/3)."""
    x = "the same exact duplicated text body repeated verbatim here"
    rows = [
        (1, x, "en", "sA"),
        (2, x, "en", "sA"),
        (3, "unique words only in source a entirely", "en", "sA"),
        (4, x, "en", "sB"),
        (5, "completely different other text in source b", "en", "sB"),
    ]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    out = {
        r.source: r
        for r in plans.QUERIES["source_ablation_report"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out["sA"].n_docs_removed == 3
    assert out["sA"].remaining_docs == 2
    assert out["sA"].ablated_dup_rate == 0.0  # X became unique
    assert out["sB"].remaining_docs == 3
    assert out["sB"].ablated_dup_rate == round(2 / 3, 6)
    # full-corpus dup rate is 3/5; deltas must reconstruct it:
    # ablated == full + delta is NOT asserted for dup (nonlinear), but
    # quality deltas must sum-shape: ablated = full + delta exactly
    for r in out.values():
        assert r.delta_mean_quality == round(
            r.ablated_mean_quality
            - (out["sA"].ablated_mean_quality
               - out["sA"].delta_mean_quality),
            6,
        )


def test_kappa_hand_computed_confusion(spark, tmp_path):
    """Planted 2x2 confusion with hand-computed kappa. Classifier A =
    quality >= 0.7 (clean no-punct text: 0.6 + 0.4*min(nw/100, 1), so
    A=1 iff nw >= 25); classifier B = >= 3 distinct en stopwords."""
    long_sw = " ".join(["the and of"] + [f"word{i}" for i in range(27)])
    long_plain = " ".join(f"word{i}" for i in range(30))
    short_sw = "the and of word1 word2"
    short_plain = "word1 word2 word3 word4 word5"
    rows = (
        [(i, long_sw, "en", "s") for i in range(4)]            # n11 x4
        + [(10 + i, long_plain, "en", "s") for i in range(2)]  # n10 x2
        + [(20 + i, short_sw, "en", "s") for i in range(1)]    # n01 x1
        + [(30 + i, short_plain, "en", "s") for i in range(3)] # n00 x3
    )
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    r = plans.QUERIES["classifier_agreement_kappa"](
        spark, str(tmp_path)
    ).collect()[0]
    assert (r.n, r.n11, r.n10, r.n01, r.n00) == (10, 4, 2, 1, 3)
    po = 7 / 10
    pe = (6 * 5 + 4 * 5) / 100
    assert r.p_observed == round(po, 6)
    assert r.p_expected == round(pe, 6)
    assert r.kappa == round((po - pe) / (1 - pe), 6)


def test_kappa_degenerate_chance_agreement_is_null(spark, tmp_path):
    """All docs labeled identically by both classifiers: p_e = 1 and
    kappa is undefined -> NULL, not a division blow-up."""
    long_sw = " ".join(["the and of"] + [f"word{i}" for i in range(27)])
    rows = [(i, long_sw, "en", "s") for i in range(5)]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    r = plans.QUERIES["classifier_agreement_kappa"](
        spark, str(tmp_path)
    ).collect()[0]
    assert (r.n11, r.p_expected) == (5, 1.0)
    assert r.kappa is None


EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def test_seasonal_strength_pure_vs_flat(spark, tmp_path):
    """A value that is a PURE function of hour-of-day must score
    strength ~1 on the hour dimension; a constant-by-hour value
    scores strength 0 (flat profile). Peak bucket is the argmax-mean
    hour."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)  # a Monday
    rows = []
    eid = 0
    for day in range(4):
        for h in range(24):
            for k in range(3):
                # value = 100 + hour*10: pure hourly profile
                rows.append(
                    (eid, t0 + dt.timedelta(days=day, hours=h, minutes=k),
                     k, "click", 100.0 + h * 10)
                )
                eid += 1
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    out = {
        r.dimension: r
        for r in plans.QUERIES["seasonal_strength_report"](
            spark, str(tmp_path)
        ).collect()
    }
    hr = out["hour_of_day"]
    assert hr.n_buckets == 24
    assert hr.strength is not None and hr.strength > 0.999
    assert hr.peak_bucket == 23  # mean is monotone in hour
    # every full day sees the identical hourly profile -> day-of-week
    # explains nothing
    dw = out["day_of_week"]
    assert dw.n_buckets == 4  # 4 distinct days planted
    assert dw.strength is not None and dw.strength < 1e-6


def test_seasonal_strength_constant_value_is_null(spark, tmp_path):
    """Zero total variance -> strength undefined -> NULL."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, t0 + dt.timedelta(hours=i), i, "click", 7.0) for i in range(30)
    ]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    out = plans.QUERIES["seasonal_strength_report"](
        spark, str(tmp_path)
    ).collect()
    assert all(r.strength is None for r in out)


def test_l_diversity_flags_single_user_class(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = (
        # (click, 2024-03-01): 5 events, ONE user -> l=1, violation
        [(i, t0 + dt.timedelta(minutes=i), 42, "click", 1.0)
         for i in range(5)]
        # (view, 2024-03-01): 4 events, 4 users -> l=4, pass
        + [(10 + u, t0 + dt.timedelta(minutes=u), u, "view", 1.0)
           for u in range(4)]
    )
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    out = {
        (r.event_type, r.event_date): r
        for r in plans.QUERIES["l_diversity_report"](
            spark, str(tmp_path)
        ).collect()
    }
    click = out[("click", "2024-03-01")]
    assert (click.n_events, click.l, click.l_violation) == (5, 1, 1)
    view = out[("view", "2024-03-01")]
    assert (view.n_events, view.l, view.l_violation) == (4, 4, 0)


def test_matryoshka_recall_perfect_when_info_in_prefix(spark, tmp_path):
    """Vectors whose information lives entirely in the first 8 dims:
    every truncation ranks identically to the full ranking, so
    recall@5 must be exactly 1.0 at every truncation width."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(0, 1, 8)] + [0.0] * 56, int(i % 3))
        for i in range(40)
    ]
    _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<double>, label int",
    )
    out = {
        r.m_dims: r
        for r in plans.QUERIES["matryoshka_recall_report"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {8, 16, 32}
    for r in out.values():
        assert r.n_anchors == 20
        assert r.mean_recall_at_5 == 1.0


def test_bm25_planted_relevance_ordering(spark, tmp_path):
    """Coverage and idf invariants on a planted corpus: the doc
    matching ALL query terms outranks partial matches; matching a
    RARE term outranks matching a COMMON one at equal tf and length;
    the query doc itself is excluded."""
    rows = [
        (0, "apple banana cherry", "en", "q"),           # the query
        (10, "apple banana cherry pad1 pad2", "en", "s"),  # all terms
        (11, "apple pad3 pad4 pad5 pad6", "en", "s"),      # common term
        (12, "apple pad7 pad8 pad9 pad10", "en", "s"),
        (13, "apple pad11 pad12 pad13 pad14", "en", "s"),
        (15, "cherry pad15 pad16 pad17 pad18", "en", "s"),  # rare term
        (16, "pad19 pad20 pad21 pad22 pad23", "en", "s"),   # no overlap
    ]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    out = plans.QUERIES["bm25_topk_docs"](spark, str(tmp_path)).collect()
    assert all(r.query_id == 0 for r in out)
    by_rank = {r.rank: r.doc_id for r in out}
    ranked_docs = set(by_rank.values())
    assert 0 not in ranked_docs      # self excluded
    assert 16 not in ranked_docs     # no shared term -> no candidate
    assert by_rank[1] == 10          # full coverage wins
    scores = {r.doc_id: r.score for r in out}
    # cherry (df 3: docs 0,10,15) is rarer than apple (df 5) ->
    # at identical tf and dl the rare-term doc scores higher
    assert scores[15] > scores[11]
    assert scores[11] == scores[12] == scores[13]  # symmetric docs tie


def test_hybrid_rrf_fuses_both_rankings(spark, tmp_path):
    """A doc ranked top by BOTH arms must fuse above docs carried by
    one arm only, and the audit columns must show which arm ranked
    what (NULL where an arm didn't). Runs on the EXACT form (shared
    _rrf_fuse with the r10 bucketed primary): a 4-doc corpus is below
    LSH's operating regime, so the fusion mechanics are pinned where
    the semantic arm is deterministic; the bucketed arm's recall is
    pinned separately in test_round10."""
    rows = [
        (0, "apple banana cherry", "en", "q"),
        (10, "apple banana cherry pad1 pad2", "en", "s"),
        (11, "apple pad3 pad4 pad5 pad6", "en", "s"),
        (16, "pad19 pad20 pad21 pad22 pad23", "en", "s"),
    ]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    out = {
        r.rrf_rank: r
        for r in plans.QUERIES["hybrid_search_rrf_exact"](
            spark, str(tmp_path)
        ).collect()
    }
    top = out[1]
    assert top.doc_id == 10
    assert top.lex_rank == 1 and top.sem_rank == 1
    assert top.rrf_score == round(1 / 61 + 1 / 61, 6)
    second = out[2]
    assert second.doc_id == 11
    assert second.rrf_score == round(1 / 62 + 1 / 62, 6)
    assert 16 not in {r.doc_id for r in out.values()}


def test_search_snippets_finds_densest_window(spark, tmp_path):
    """The snippet must anchor at the window with the MOST query-term
    hits (earliest on ties), not the first match."""
    pads = " ".join(f"pad{i}" for i in range(16))  # 16 filler tokens
    rows = [
        (0, "apple banana cherry", "en", "q"),
        # isolated 'apple' at pos 1, dense cluster at pos 18-20
        (10, "apple " + pads + " apple banana cherry", "en", "s"),
        # two isolated singles -> earliest window wins the tie
        (11, "pad_a apple " + pads + " apple", "en", "s"),
    ]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    out = {
        r.doc_id: r
        for r in plans.QUERIES["search_snippets"](
            spark, str(tmp_path)
        ).collect()
    }
    dense = out[10]
    assert dense.n_hits == 3
    assert dense.snippet_start == 18
    assert dense.snippet_text.startswith("apple banana cherry")
    single = out[11]
    assert single.n_hits == 1
    assert single.snippet_start == 2  # earliest of the two 1-hit windows


def test_t_closeness_planted_distributions(spark, tmp_path):
    """Classes matching the global value distribution pass; a class
    concentrated in one bucket violates. Hand-computed EMDs on a
    3-class plant (buckets of width 50 over value)."""
    import datetime as dt

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows, eid = [], 0
    # d1 and d2: one event per bucket (values 25, 75, ..., 475)
    for day in (1, 2):
        for i in range(10):
            rows.append(
                (eid, t0 + dt.timedelta(days=day), eid, "click",
                 25.0 + 50.0 * i)
            )
            eid += 1
    # d3: ten events all in the top bucket
    for _ in range(10):
        rows.append((eid, t0 + dt.timedelta(days=3), eid, "click", 475.0))
        eid += 1
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    out = {
        r.event_date: r
        for r in plans.QUERIES["t_closeness_report"](
            spark, str(tmp_path)
        ).collect()
    }
    # d1/d2 vs global (2 per bucket 1-9, 12 in bucket 10):
    # EMD = (sum_{i=1..9} i/30) / 9 = 1.5/9
    assert out["2024-05-02"].emd == round(1.5 / 9, 6)
    assert out["2024-05-02"].t_violation == 0
    assert out["2024-05-03"].emd == out["2024-05-02"].emd
    # d3 all-in-one-bucket: EMD = (sum_{i=1..9} i/15) / 9 = 3/9
    d3 = out["2024-05-04"]
    assert d3.emd == round(3 / 9, 6)
    assert d3.t_violation == 1


def test_retrieval_eval_planted_agreement(spark, tmp_path):
    """When the lexical and semantic candidate sets coincide, the
    top lexical doc is semantically relevant (MRR 1.0) and recall@10
    counts exactly the shared candidates."""
    rows = [
        (0, "apple banana cherry", "en", "q"),
        (10, "apple banana cherry pad1 pad2", "en", "s"),
        (11, "apple pad3 pad4 pad5 pad6", "en", "s"),
        (12, "apple pad7 pad8 pad9 pad10", "en", "s"),
        (13, "apple pad11 pad12 pad13 pad14", "en", "s"),
        (15, "cherry pad15 pad16 pad17 pad18", "en", "s"),
        (16, "pad19 pad20 pad21 pad22 pad23", "en", "s"),
    ]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    out = plans.QUERIES["retrieval_eval_report"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1 and out[0].query_id == 0
    r = out[0]
    # 5 docs share a query term -> both arms rank exactly those 5
    assert r.recall_at_10 == 0.5
    assert r.mrr == 1.0  # lex rank-1 (doc 10) is semantically relevant
    assert 0.0 < r.ndcg_at_10 <= 1.0


def test_dp_sensitivity_planted(spark, tmp_path):
    """Hand-computed user-level L1 sensitivities: the heaviest user
    sets count_sensitivity; the largest |per-user cents total| sets
    sum_sensitivity; NULL values count as 0 cents but still count
    rows; a zero-sum release gets NULL rel_sum_noise."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # click: user 1 -> 4 rows (one NULL value), cents 800;
        #        user 2 -> 1 row, cents 10000
        (0, t0, 1, "click", 10.00),
        (1, t0, 1, "click", -2.50),
        (2, t0, 1, "click", 0.50),
        (3, t0, 1, "click", None),
        (4, t0, 2, "click", 100.00),
        # view: +500 and -500 cents -> total 0
        (5, t0, 5, "view", 5.00),
        (6, t0, 6, "view", -5.00),
    ]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    out = {
        r.event_type: r
        for r in plans.QUERIES["dp_sensitivity_report"](
            spark, str(tmp_path)
        ).collect()
    }
    click = out["click"]
    assert (click.n_rows, click.n_users) == (5, 2)
    assert click.count_sensitivity == 4
    assert click.sum_sensitivity_cents == 10000
    assert click.rel_count_noise == 0.8  # 4 / (1.0 * 5)
    assert abs(click.rel_sum_noise - round(10000 / 10800, 9)) < 1e-12
    view = out["view"]
    assert (view.count_sensitivity, view.sum_sensitivity_cents) == (1, 500)
    assert view.rel_sum_noise is None  # zero-sum release: undefined


def test_prf_expansion_planted_terms(spark, tmp_path):
    """Expansion terms come only from feedback (BM25-matched) docs,
    original query terms are excluded, and weights are the exact
    sum of tf/dl across feedback docs (zebra: 2/5 + 1/5 = 0.6)."""
    rows = [
        (0, "apple banana cherry", "en", "q"),             # the query
        (10, "apple banana cherry zebra zebra", "en", "s"),
        (11, "apple yak zebra pad1 pad2", "en", "s"),
        (16, "pad19 pad20 pad21 pad22 pad23", "en", "s"),  # no overlap
    ]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    out = plans.QUERIES["prf_query_expansion"](
        spark, str(tmp_path)
    ).collect()
    assert all(r.query_id == 0 for r in out)
    terms = {r.term: r for r in out}
    # original query terms never expand; non-feedback docs contribute
    # nothing
    assert not {"apple", "banana", "cherry"} & set(terms)
    assert not {"pad19", "pad20"} & set(terms)
    z = terms["zebra"]
    assert (z.rank, z.n_fb_docs) == (1, 2)
    assert z.rm_weight == 0.6  # 2/5 from doc 10 + 1/5 from doc 11
    assert terms["yak"].rm_weight == 0.2
    # equal weights tie-break by term ascending
    eq = [r.term for r in sorted(out, key=lambda r: r.rank)[1:]]
    assert eq == sorted(eq)


def test_shapley_attribution_planted_synergy(spark, tmp_path):
    """Hand-computed exact-lattice Shapley (n=4, weights w0=0.25,
    w1=w2=1/12@12dp): click converts alone (v({c})=0.5) and with view
    (v({c,v})=1.0), view never converts alone -> click's credit
    0.25*0.5 + (1/12)*1.0 = 0.208333333; view's (1/12)*0.5 =
    0.041666667; untouched channels pick up the negative
    all-coalition marginals -(1/12)*1.5 = -0.125."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, user, typ, minute):
        return (eid, t0 + dt.timedelta(minutes=minute), user, typ, 1.0)

    rows = [
        # {click}, converts
        ev(0, 1, "click", 0), ev(1, 1, "purchase", 1),
        # {click}, no conversion
        ev(2, 2, "click", 0),
        # {click, view}, converts (both orders)
        ev(3, 3, "click", 0), ev(4, 3, "view", 1), ev(5, 3, "purchase", 2),
        ev(6, 4, "view", 0), ev(7, 4, "click", 1), ev(8, 4, "purchase", 2),
        # {view}, no conversion x2
        ev(9, 5, "view", 0),
        ev(10, 6, "view", 0),
    ]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    out = {
        r.channel: r
        for r in plans.QUERIES["shapley_attribution"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {"click", "error", "signup", "view"}
    assert out["click"].shapley_value == 0.208333333
    assert out["view"].shapley_value == 0.041666667
    assert out["error"].shapley_value == -0.125
    assert out["signup"].shapley_value == -0.125
    assert out["click"].n_touched_users == 4
    assert out["view"].n_touched_users == 4
    assert out["error"].n_touched_users == 0


def test_curriculum_order_band_monotone_and_contiguous(spark, tmp_path):
    """Within every shard: positions are contiguous 1..n and the
    difficulty BAND is monotone in shard_pos (easy bands stream
    first); difficulty is the exact token count."""
    rows = [
        (i, " ".join(f"w{j}" for j in range(n)), "en", "s")
        for i, n in enumerate([5, 8, 12, 20, 25, 30, 40, 45, 50, 70,
                               90, 130, 3, 18, 33, 66])
    ]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    out = plans.QUERIES["curriculum_data_order"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == len(rows)
    toks = {i: n for i, n in enumerate([5, 8, 12, 20, 25, 30, 40, 45,
                                        50, 70, 90, 130, 3, 18, 33, 66])}
    for r in out:
        assert r.difficulty == toks[r.doc_id]
        assert r.band == min(r.difficulty // 16, 7)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.shard_pos)
        assert [r.shard_pos for r in rs] == list(range(1, len(rs) + 1))
        bands = [r.band for r in rs]
        assert bands == sorted(bands)  # curriculum: easy before hard


def test_uplift_qini_planted(spark, tmp_path):
    """Hand-computed uplift lattice (md5 assignment: users 1,3,6,9
    treated; 2,4,5 control): bucket 3 = perfect uplift 1.0; bucket 0
    = no effect 0.0; a control-free bucket reports NULL uplift; the
    Qini walk in descending score order is 2.0 -> 3.0 -> 3.0."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def emit(user, typ, minute):
        nonlocal eid
        rows.append((eid, t0 + dt.timedelta(minutes=minute), user, typ, 1.0))
        eid += 1

    for u in (1, 3):     # treated, 3 clicks, convert
        for m in range(3):
            emit(u, "click", m)
        emit(u, "purchase", 9)
    for u in (2, 4):     # control, 3 clicks, no conversion
        for m in range(3):
            emit(u, "click", m)
    emit(9, "click", 0)  # treated-only bucket 1, converts
    emit(9, "purchase", 5)
    emit(6, "view", 0)   # treated, bucket 0, no conversion
    emit(5, "view", 0)   # control, bucket 0, no conversion
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    out = {
        r.score_bucket: r
        for r in plans.QUERIES["uplift_qini_report"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {0, 1, 3}
    b3 = out[3]
    assert (b3.n_treated, b3.n_control) == (2, 2)
    assert (b3.conv_treated, b3.conv_control) == (2, 0)
    assert b3.uplift == 1.0
    assert b3.cum_qini == 2.0
    b1 = out[1]
    assert b1.uplift is None  # no control exposure in the bucket
    assert b1.cum_qini == 3.0
    b0 = out[0]
    assert b0.uplift == 0.0
    assert b0.cum_qini == 3.0


def test_zipf_fit_exact_power_law(spark, tmp_path):
    """Frequencies 12/6/4/3 at ranks 1..4 are an exact f = 12/r law:
    the log-log OLS must recover slope -1, intercept ln(12), r2 1."""
    text = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3)
    _write(spark, tmp_path, "documents", [(0, text, "en", "s")], DOC_SCHEMA)
    r = plans.QUERIES["zipf_law_fit"](spark, str(tmp_path)).collect()[0]
    assert r.k_terms == 4
    assert r.zipf_slope == -1.0
    assert r.intercept == 2.484907  # ln(12) @ 6dp
    assert r.r2 == 1.0


def test_good_turing_singleton_mass(spark, tmp_path):
    """'a a a b b c d': 7 tokens, 2 singleton types -> unseen mass
    2/7; doubleton count covers the GT-smoothed derivation."""
    _write(
        spark, tmp_path, "documents",
        [(0, "a a a b b c d", "en", "s")], DOC_SCHEMA,
    )
    r = plans.QUERIES["good_turing_unseen_mass"](
        spark, str(tmp_path)
    ).collect()[0]
    assert (r.n_tokens, r.vocab_size) == (7, 4)
    assert (r.singleton_types, r.doubleton_types) == (2, 1)
    assert r.unseen_mass == round(2 / 7, 9)


def test_retrieval_tf_session_cache(spark, tmp_path):
    """The retrieval family shares ONE checkpointed tf build per
    (app, sf_dir); stale entries from stopped apps are evicted."""
    from clickstreamtoclickhouse_spark.plans.retrieval import (
        _TF_CACHE,
        _corpus_tf,
    )

    rows = [(0, "apple banana", "en", "s"), (1, "banana cherry", "en", "s")]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)
    _TF_CACHE.clear()
    a = _corpus_tf(spark, str(tmp_path))
    b = _corpus_tf(spark, str(tmp_path))
    assert a is b
    other = _corpus_tf(spark, "/root/testdata/sf0.001")
    assert other is not a
    _TF_CACHE[("app-from-a-stopped-session", str(tmp_path))] = a
    _corpus_tf(spark, str(tmp_path))
    assert ("app-from-a-stopped-session", str(tmp_path)) not in _TF_CACHE
    assert {k[0] for k in _TF_CACHE} == {spark.sparkContext.applicationId}
    # and the cached relation is the per-(doc, term) tf table
    got = {(r.doc_id, r.w): r.tf for r in a.collect()}
    assert got == {(0, "apple"): 1, (0, "banana"): 1,
                   (1, "banana"): 1, (1, "cherry"): 1}


def test_ab_covariate_balance_planted(spark, tmp_path):
    """Hand-computed SMDs (users 1,3 hash to A; 2,4 to B): event
    counts balance exactly (SMD 0); clicks differ by 1 over pooled SD
    sqrt(0.5) -> 1.414214; value sums are flagrantly imbalanced
    (SMD 7)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1 (A): 4 events, 2 clicks, value 10
        (0, t0, 1, "click", 2.5), (1, t0, 1, "click", 2.5),
        (2, t0, 1, "view", 2.5), (3, t0, 1, "view", 2.5),
        # user 3 (A): 2 events, 1 click, value 10
        (4, t0, 3, "click", 5.0), (5, t0, 3, "view", 5.0),
        # user 2 (B): 3 events, 1 click, value 2
        (6, t0, 2, "click", 1.0), (7, t0, 2, "view", 0.5),
        (8, t0, 2, "view", 0.5),
        # user 4 (B): 3 events, 0 clicks, value 4
        (9, t0, 4, "view", 2.0), (10, t0, 4, "view", 1.0),
        (11, t0, 4, "view", 1.0),
    ]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    out = {
        r.covariate: r
        for r in plans.QUERIES["ab_covariate_balance"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(out) == {"n_events", "n_clicks", "value_sum"}
    ev = out["n_events"]
    assert (ev.n_a, ev.n_b, ev.mean_a, ev.mean_b) == (2, 2, 3.0, 3.0)
    assert (ev.smd, ev.balanced) == (0.0, 1)
    ck = out["n_clicks"]
    assert ck.smd == round(1 / (0.5 ** 0.5), 6)  # 1.414214
    assert ck.balanced == 0
    vs = out["value_sum"]
    assert (vs.mean_a, vs.mean_b) == (10.0, 3.0)
    assert (vs.smd, vs.balanced) == (7.0, 0)


def test_shapley_share_null_when_total_vanishes(spark, tmp_path):
    """The planted synergy lattice telescopes to a ~5e-13 Shapley
    total (v(grand)=v(empty)=0) — normalized shares would be
    +-4e11 sign-noise, so every attribution_share must be NULL
    while the raw shapley_value column stays fully populated."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(user, typ, minute):
        nonlocal eid
        rows.append((eid, t0 + dt.timedelta(minutes=minute), user, typ, 1.0))
        eid += 1

    ev(1, "click", 0); ev(1, "purchase", 1)
    ev(2, "click", 0)
    ev(3, "click", 0); ev(3, "view", 1); ev(3, "purchase", 2)
    ev(4, "view", 0); ev(4, "click", 1); ev(4, "purchase", 2)
    ev(5, "view", 0)
    ev(6, "view", 0)
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    out = plans.QUERIES["shapley_attribution"](
        spark, str(tmp_path)
    ).collect()
    assert all(r.attribution_share is None for r in out)
    assert all(r.shapley_value is not None for r in out)


def test_shapley_matches_independent_python_reference(spark, tmp_path):
    """Seeded random journeys, checked against a from-scratch Python
    Shapley implementation (exact Decimal lattice with the query's
    documented rounding contract: v = 12dp rates, 12dp weight
    literals, exact addends, 9dp HALF_UP result). Oracle parity can't
    catch both-engines-wrong; this can."""
    import datetime as dt
    import random
    from decimal import ROUND_HALF_UP, Decimal
    from math import factorial

    channels = ("click", "error", "signup", "view")
    n = len(channels)
    rng = random.Random(1234)
    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    journeys = {}
    for user in range(1, 41):
        k = rng.randint(0, 4)
        touches = rng.sample(channels, k) if k else []
        rng.shuffle(touches)
        converts = rng.random() < 0.5
        journeys[user] = (frozenset(touches), converts)
        minute = 0
        for c in touches:
            rows.append((eid, t0 + dt.timedelta(minutes=minute), user, c, 1.0))
            eid += 1
            minute += 1
        if converts:
            rows.append(
                (eid, t0 + dt.timedelta(minutes=minute), user, "purchase", 1.0)
            )
            eid += 1
        elif not touches:
            # every user must emit something; a lone post-journey
            # channel event keeps the set unchanged (still counted —
            # non-converters truncate nowhere)
            extra = rng.choice(channels)
            journeys[user] = (frozenset([extra]), False)
            rows.append((eid, t0, user, extra, 1.0))
            eid += 1
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)

    # independent reference
    bit = {c: 1 << i for i, c in enumerate(channels)}
    agg = {}
    for tset, conv in journeys.values():
        m = sum(bit[c] for c in tset)
        tot, cv = agg.get(m, (0, 0))
        agg[m] = (tot + 1, cv + (1 if conv else 0))
    q12 = Decimal(1).scaleb(-12)
    v = {
        m: (Decimal(cv) / Decimal(tot)).quantize(q12, ROUND_HALF_UP)
        for m, (tot, cv) in agg.items()
    }
    w = {
        pc: (
            Decimal(factorial(pc) * factorial(n - 1 - pc))
            / Decimal(factorial(n))
        ).quantize(q12, ROUND_HALF_UP)
        for pc in range(n)
    }
    expected = {}
    for c in channels:
        phi = Decimal(0)
        for m in range(1 << n):
            if m & bit[c]:
                continue
            pc = bin(m).count("1")
            phi += w[pc] * (
                v.get(m | bit[c], Decimal(0)) - v.get(m, Decimal(0))
            )
        expected[c] = float(
            phi.quantize(Decimal(1).scaleb(-9), ROUND_HALF_UP)
        )
    out = {
        r.channel: r
        for r in plans.QUERIES["shapley_attribution"](
            spark, str(tmp_path)
        ).collect()
    }
    for c in channels:
        assert out[c].shapley_value == expected[c], c
    # and the touch audit matches the journey definition
    for c in channels:
        want = sum(1 for tset, _ in journeys.values() if c in tset)
        assert out[c].n_touched_users == want, c


def test_bm25_matches_independent_python_reference(spark, tmp_path):
    """Seeded random corpus, checked against a from-scratch Python
    BM25 (k1=1.2, b=0.75, the query's documented rounding contract:
    6dp HALF_UP per-(query,doc,term) contributions summed exactly).
    Both engines share hand-mirrored formulas, so only an independent
    reimplementation can catch a transcription error in them."""
    import random
    from decimal import ROUND_HALF_UP, Decimal
    from math import log

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(30)]
    docs = {}
    for doc_id in range(25):
        k = rng.randint(3, 20)
        docs[doc_id] = [rng.choice(vocab) for _ in range(k)]
    rows = [(i, " ".join(ws), "en", "s") for i, ws in docs.items()]
    _write(spark, tmp_path, "documents", rows, DOC_SCHEMA)

    tf = {d: {} for d in docs}
    for d, ws in docs.items():
        for w in ws:
            tf[d][w] = tf[d].get(w, 0) + 1
    dl = {d: len(ws) for d, ws in docs.items()}
    big_n = len(docs)
    avgdl = sum(dl.values()) / big_n
    df = {}
    for d in docs:
        for w in tf[d]:
            df[w] = df.get(w, 0) + 1
    q6 = Decimal(1).scaleb(-6)

    def rnd6(x):
        return Decimal(repr(x)).quantize(q6, ROUND_HALF_UP)

    expected = {}
    for qid in range(3):
        qws = list(dict.fromkeys(docs[qid][:5]))
        scores = {}
        for d in docs:
            if d == qid:
                continue
            s = Decimal(0)
            hit = False
            for w in qws:
                if w not in tf[d]:
                    continue
                hit = True
                idf = log(1 + (big_n - df[w] + 0.5) / (df[w] + 0.5))
                t = tf[d][w]
                part = (t * (1.2 + 1)) / (
                    t + 1.2 * (1 - 0.75 + 0.75 * dl[d] / avgdl)
                )
                s += rnd6(idf * part)
            if hit:
                scores[d] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        expected[qid] = [
            (d, r + 1, float(rnd6(float(s)))) for r, (d, s) in enumerate(ranked)
        ]
    out = {}
    for r in plans.QUERIES["bm25_topk_docs"](spark, str(tmp_path)).collect():
        out.setdefault(r.query_id, []).append((r.doc_id, r.rank, r.score))
    for qid in expected:
        got = sorted(out.get(qid, []), key=lambda t: t[1])
        assert got == expected[qid], f"query {qid}"


def test_curriculum_order_real_data_invariants(spark):
    """On real testdata: every non-empty doc appears exactly once,
    every shard's positions are contiguous 1..n, and bands are
    monotone in shard_pos within every shard."""
    out = plans.QUERIES["curriculum_data_order"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == len({r.doc_id for r in out})
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(8))
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.shard_pos)
        assert [r.shard_pos for r in rs] == list(range(1, len(rs) + 1))
        bands = [r.band for r in rs]
        assert bands == sorted(bands)
