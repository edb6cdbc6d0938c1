"""Stateful streaming operators: in-stream dedup, session windows,
custom GroupState counter."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from clickstreamtoclickhouse_spark.sinks.txlog import TxLogTable
from clickstreamtoclickhouse_spark.streaming import ingest as st
from clickstreamtoclickhouse_spark.streaming import stateful

from .test_ingest import FIXTURE_LINES


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    with open(d / "b.json", "w") as f:
        for line in FIXTURE_LINES:
            f.write(json.dumps(line) + "\n")
    return d


def _stream(spark, landing):
    schema = st.infer_event_schema(spark, str(landing))
    raw = spark.readStream.schema(schema).json(str(landing))
    return raw.withColumn("timestamp", F.to_timestamp("timestamp"))


def _run(spark, df, name, tmp_path, mode="append"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_dedup(spark, landing, tmp_path):
    # fixture contains m-001 twice (same messageId); the raw stream
    # has pre-flatten camelCase keys
    deduped = stateful.streaming_dedup(
        _stream(spark, landing), keys=("messageId",)
    )
    out = _run(spark, deduped, "dedup_out", tmp_path)
    counts = out.groupBy("messageId").count().collect()
    assert all(r["count"] == 1 for r in counts)
    assert out.filter(F.col("messageId") == "m-001").count() == 1


def test_session_aggregation(spark, landing, tmp_path):
    sess = stateful.session_aggregation(
        _stream(spark, landing), gap="30 minutes", key_col="userId"
    )
    out = _run(spark, sess, "sess_out", tmp_path)
    assert set(out.columns) == {"userId", "session_start", "session_end", "n_events"}
    # append mode emits only watermark-closed sessions; schema + run is
    # the contract here (value assertions live in the batch analog)


def test_running_user_counts(spark, landing, tmp_path):
    counts = stateful.running_user_counts(
        _stream(spark, landing).withColumn("user_id", F.xxhash64("userId"))
    )
    out = _run(spark, counts, "counter_out", tmp_path, mode="update")
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["n_events_total"] == r["batch_events"] for r in rows)  # 1st batch


@pytest.fixture()
def two_streams(tmp_path):
    import json as _json

    clicks = tmp_path / "clicks"
    purchases = tmp_path / "purchases"
    clicks.mkdir(); purchases.mkdir()
    click_rows = [
        {"user": 1, "timestamp": "2026-01-01T10:00:00"},
        {"user": 2, "timestamp": "2026-01-01T10:05:00"},
        {"user": 3, "timestamp": "2026-01-01T10:10:00"},
    ]
    purchase_rows = [
        {"user": 1, "timestamp": "2026-01-01T10:20:00"},  # within 30m of click
        {"user": 2, "timestamp": "2026-01-01T11:30:00"},  # too late
        {"user": 9, "timestamp": "2026-01-01T10:06:00"},  # no matching click
    ]
    with open(clicks / "a.json", "w") as f:
        for r in click_rows:
            f.write(_json.dumps(r) + "\n")
    with open(purchases / "a.json", "w") as f:
        for r in purchase_rows:
            f.write(_json.dumps(r) + "\n")
    return clicks, purchases


def test_stream_interval_join(spark, two_streams, tmp_path):
    clicks_dir, purchases_dir = two_streams
    schema = "user long, timestamp string"
    mk = lambda d: (
        spark.readStream.schema(schema).json(str(d))
        .withColumn("timestamp", F.to_timestamp("timestamp"))
    )
    joined = stateful.stream_interval_join(
        mk(clicks_dir), mk(purchases_dir), key_col="user", interval="30 minutes"
    )
    out = _run(spark, joined, "sj_out", tmp_path)
    rows = {(r["user"], r["lag_seconds"]) for r in out.collect()}
    # only user 1's purchase falls inside the click+30m window
    assert rows == {(1, 1200)}


def test_enrich_with_dimension_is_broadcast(spark, landing, tmp_path):
    dim = spark.createDataFrame(
        [("u-1", "gold"), ("u-2", "silver")], "userId string, tier string"
    )
    enriched = stateful.enrich_with_dimension(
        _stream(spark, landing), dim, key_col="userId"
    )
    out = _run(spark, enriched, "enrich_out", tmp_path)
    got = {r["userId"]: r["tier"] for r in out.select("userId", "tier").collect()}
    assert got.get("u-1") == "gold"
    # the left join keeps every stream row, matched or not
    assert out.count() == len(FIXTURE_LINES)


def test_streaming_corpus_dedup(spark, tmp_path):
    import json as _json

    landing = tmp_path / "docs"
    landing.mkdir()
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt_corpus")

    def write_file(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    # batch 1: one in-batch duplicate pair (1,2)
    write_file("b1.json", [
        {"doc_id": 1, "text": "alpha beta gamma"},
        {"doc_id": 2, "text": "alpha beta gamma"},
        {"doc_id": 3, "text": "delta epsilon"},
    ])
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(landing))
    q = stateful.streaming_corpus_dedup(stream, index_dir, out_dir, ckpt)
    try:
        q.processAllAvailable()
        # batch 2: re-sends of both batch-1 texts + one new doc
        write_file("b2.json", [
            {"doc_id": 10, "text": "alpha beta gamma"},
            {"doc_id": 11, "text": "delta epsilon"},
            {"doc_id": 12, "text": "zeta eta"},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = TxLogTable(out_dir).read(spark)
    ids = sorted(r["doc_id"] for r in corpus.collect())
    # batch1 keeps min-id of the dup pair + the singleton; batch2
    # admits only the genuinely new doc
    assert ids == [1, 3, 12]
    index = TxLogTable(index_dir).read(spark)
    assert index.count() == 3 == index.distinct().count()


def test_streaming_corpus_dedup_survives_restart(spark, tmp_path):
    # checkpoint recovery: a NEW query instance over the same
    # checkpoint must not re-admit already-processed content, and
    # re-delivered duplicates after restart still dedup against the
    # persisted index
    import json as _json

    landing = tmp_path / "docs"
    landing.mkdir()
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    schema = "doc_id long, text string"

    def start():
        stream = spark.readStream.schema(schema).json(str(landing))
        return stateful.streaming_corpus_dedup(stream, index_dir, out_dir, ckpt)

    write_file("b1.json", [{"doc_id": 1, "text": "alpha beta"}])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # restart from the checkpoint; deliver a re-send + a new doc
    write_file("b2.json", [
        {"doc_id": 5, "text": "alpha beta"},
        {"doc_id": 6, "text": "gamma delta"},
    ])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ids = sorted(r["doc_id"] for r in TxLogTable(out_dir).read(spark).collect())
    assert ids == [1, 6]


def test_streaming_corpus_dedup_new_checkpoint_over_old_index_raises(
    spark, tmp_path
):
    # a new checkpoint restarts batch ids at 0, so "state before this
    # batch" would be a fraction of the index and re-sent content
    # would be admitted again: the state table refuses a second stream
    landing = tmp_path / "docs"
    landing.mkdir()
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "corpus")
    with open(landing / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "alpha beta"}) + "\n")

    def run(ckpt):
        stream = spark.readStream.schema("doc_id long, text string").json(
            str(landing)
        )
        q = stateful.streaming_corpus_dedup(
            stream, index_dir, out_dir, str(tmp_path / ckpt)
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run("ckpt1")
    with pytest.raises(Exception, match="state table of the stream"):
        run("ckpt2")
    ids = sorted(r["doc_id"] for r in TxLogTable(out_dir).read(spark).collect())
    assert ids == [1]


def test_streaming_corpus_dedup_rejects_unlogged_index(spark, tmp_path):
    # an index dir of raw parquet (written without the commit log)
    # must not be taken for an empty index
    landing = tmp_path / "docs"
    landing.mkdir()
    index_dir = tmp_path / "index"
    spark.createDataFrame([("h",)], "content_hash string").write.parquet(
        str(index_dir)
    )
    with open(landing / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "alpha beta"}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(landing))
    q = stateful.streaming_corpus_dedup(
        stream, str(index_dir), str(tmp_path / "corpus"), str(tmp_path / "ckpt")
    )
    try:
        with pytest.raises(Exception, match="no _txlog commit"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert not (tmp_path / "corpus").exists()


def test_stream_merge_upsert(spark, tmp_path):
    import json as _json

    src = tmp_path / "cdc"
    src.mkdir()
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt_merge")

    def write_batch(name, rows):
        p = src / name
        p.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")

    write_batch(
        "b1.json",
        [
            {"id": 1, "name": "a", "ver": 1, "deleted": False},
            {"id": 2, "name": "b", "ver": 1, "deleted": False},
        ],
    )
    schema = "id BIGINT, name STRING, ver BIGINT, deleted BOOLEAN"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    q = stateful.stream_merge_upsert(
        stream, table_dir, ckpt, keys=("id",),
        version_col="ver", delete_col="deleted",
    )
    try:
        q.processAllAvailable()
        write_batch(
            "b2.json",
            [
                {"id": 2, "name": "b2", "ver": 2, "deleted": False},  # update
                {"id": 3, "name": "c", "ver": 1, "deleted": False},   # insert
                {"id": 1, "name": None, "ver": 2, "deleted": True},   # delete
            ],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    from clickstreamtoclickhouse_spark.sinks.txlog import TxLogTable

    table = TxLogTable(table_dir)
    got = sorted((r["id"], r["name"]) for r in table.read(spark).collect())
    assert got == [(2, "b2"), (3, "c")]
    # one atomic commit per micro-batch
    assert [h["version"] for h in table.history()] == [0, 1]


def test_user_running_totals_transform_with_state(spark, tmp_path):
    # transformWithStateInPandas talks to the state server over
    # protobuf; the wheel isn't in this container (no pip), so the
    # operator is env-gated exactly like the multimodal codecs
    pytest.importorskip("google.protobuf")
    import json as _json

    src = tmp_path / "tws_src"
    src.mkdir()
    out: list = []
    ckpt = str(tmp_path / "ckpt_tws")

    (src / "b1.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"user_id": 1, "value": 1.50},
                {"user_id": 1, "value": 2.25},
                {"user_id": 2, "value": 10.00},
            ]
        )
    )
    stream = (
        spark.readStream.schema("user_id BIGINT, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        totals = stateful.user_running_totals_tws(stream)
        q = (
            totals.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_totals")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            (src / "b2.json").write_text(
                _json.dumps({"user_id": 1, "value": 0.25})
            )
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(
            "SELECT * FROM tws_totals"
        ).collect()
        # last emission per user must carry the cross-batch total
        latest = {}
        for r in rows:
            latest[r["user_id"]] = (r["n_events_total"], r["value_cents_total"])
        assert latest[1] == (3, 400)   # 1.50 + 2.25 + 0.25
        assert latest[2] == (1, 1000)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_streaming_bloom_dedup(spark, tmp_path):
    import json as _json

    landing = tmp_path / "docs"
    landing.mkdir()
    bits_dir = str(tmp_path / "bits")
    out_dir = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt_bloom")

    def write_file(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    # batch 1: one in-batch duplicate pair (1,2)
    write_file("b1.json", [
        {"doc_id": 1, "text": "alpha beta gamma"},
        {"doc_id": 2, "text": "alpha beta gamma"},
        {"doc_id": 3, "text": "delta epsilon"},
    ])
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(landing))
    q = stateful.streaming_bloom_dedup(stream, bits_dir, out_dir, ckpt)
    try:
        q.processAllAvailable()
        # batch 2: re-sends of both batch-1 texts + one new doc +
        # a null-text doc (hashes as '' — must dedup, not bypass)
        write_file("b2.json", [
            {"doc_id": 10, "text": "alpha beta gamma"},
            {"doc_id": 11, "text": "delta epsilon"},
            {"doc_id": 12, "text": "zeta eta"},
            {"doc_id": 13},
        ])
        q.processAllAvailable()
        # batch 3: re-send of the null-text doc — must NOT re-enter
        write_file("b3.json", [{"doc_id": 20}])
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = TxLogTable(out_dir).read(spark)
    ids = sorted(r["doc_id"] for r in corpus.collect())
    # bloom has no false negatives: re-sent content can never re-enter;
    # the distinct texts don't collide at m=8192 (deterministic)
    assert ids == [1, 3, 12, 13]
    bits = TxLogTable(bits_dir).read(spark)
    # bounded state: at most k=4 positions per admitted doc, no dups
    assert bits.count() == bits.distinct().count() <= 16


def test_streaming_dq_monitor(spark, tmp_path):
    """Per-batch metrics: planted null user + negative value are
    counted; clean checks pass; violating rows land in quarantine
    with the failing check names."""
    from clickstreamtoclickhouse_spark.streaming import monitor

    landing = tmp_path / "dq_landing"
    landing.mkdir()
    rows = [
        {"event_id": 1, "user_id": 10, "value": 5.0},
        {"event_id": 2, "user_id": None, "value": 7.0},
        {"event_id": 3, "user_id": 30, "value": -2.5},
        {"event_id": 4, "user_id": 40, "value": 1.0},
    ]
    with open(landing / "batch.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    schema = "event_id BIGINT, user_id BIGINT, value DOUBLE"
    stream = spark.readStream.schema(schema).json(str(landing))
    checks = [
        ("not_null_user_id", F.col("user_id").isNull()),
        ("nonneg_value", F.col("value") < 0),
        ("unique_event_id_placeholder", F.lit(False)),
    ]
    q = monitor.streaming_dq_monitor(
        stream,
        checks,
        metrics_dir=str(tmp_path / "metrics"),
        checkpoint_dir=str(tmp_path / "ckpt_dq"),
        quarantine_dir=str(tmp_path / "quarantine"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    metrics = {
        r["check_name"]: r
        for r in TxLogTable(str(tmp_path / "metrics")).read(spark).collect()
    }
    assert len(metrics) == 3
    assert all(m["n_rows"] == 4 for m in metrics.values())
    assert metrics["not_null_user_id"]["n_violations"] == 1
    assert not metrics["not_null_user_id"]["passed"]
    assert metrics["nonneg_value"]["n_violations"] == 1
    assert metrics["unique_event_id_placeholder"]["n_violations"] == 0
    assert metrics["unique_event_id_placeholder"]["passed"]

    quar = TxLogTable(str(tmp_path / "quarantine")).read(spark).collect()
    by_id = {r["event_id"]: list(r["_violated"]) for r in quar}
    assert by_id == {2: ["not_null_user_id"], 3: ["nonneg_value"]}


_LONG_A = ("the quick brown fox jumps over the lazy dog while the "
           "patient heron watches from the riverbank in the morning mist")
_LONG_B = ("completely different subject matter about distributed "
           "query engines shuffling partitioned columnar data across "
           "executor nodes during wide transformations")
_LONG_A_NEAR = _LONG_A.replace("morning", "evening")
_LONG_C = ("a third unrelated passage describing alpine meadows where "
           "marmots whistle warnings across scree fields under summer thunderheads")
_LONG_C_NEAR = _LONG_C.replace("summer", "winter")


def test_incremental_minhash_dedup_batch_semantics(spark):
    from clickstreamtoclickhouse_spark.functions.dedup_text import (
        incremental_minhash_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, _LONG_A), (2, _LONG_B)], "doc_id long, text string"
    )
    fresh1, bands1 = incremental_minhash_dedup(b1, None)
    assert sorted(r["doc_id"] for r in fresh1.collect()) == [1, 2]
    bands1 = bands1.cache()
    assert bands1.count() == 2 * 8  # 8 bands per admitted doc

    # batch 2: near-copy of an indexed doc (rejected via index), a new
    # doc (admitted), and an in-batch near-copy of it (keeper rule)
    b2 = spark.createDataFrame(
        [(10, _LONG_A_NEAR), (11, _LONG_C), (12, _LONG_C_NEAR)],
        "doc_id long, text string",
    )
    fresh2, bands2 = incremental_minhash_dedup(b2, bands1)
    assert sorted(r["doc_id"] for r in fresh2.collect()) == [11]
    # index grows only by the admitted doc's bands
    assert bands2.count() == 8
    assert {r["doc_id"] for r in bands2.select("doc_id").collect()} == {11}


def test_incremental_minhash_dedup_short_docs_not_lost(spark):
    """Docs with fewer than n=3 words emit no MinHash band rows; the
    degenerate exact-match band row (band=-1, md5 of normalized text)
    must keep them flowing: admitted and indexed on first sight,
    rejected on re-delivery and for in-batch copies — never silently
    dropped (the advisor-flagged loss path)."""
    from clickstreamtoclickhouse_spark.functions.dedup_text import (
        incremental_minhash_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, "tiny doc"), (2, "Tiny DOC!"), (3, _LONG_A)],
        "doc_id long, text string",
    )
    fresh1, bands1 = incremental_minhash_dedup(b1, None)
    # doc 2 normalizes to doc 1's text -> in-batch exact collision
    assert sorted(r["doc_id"] for r in fresh1.collect()) == [1, 3]
    bands1 = bands1.cache()
    # 1 degenerate row for the short doc + 8 bands for the long one
    assert bands1.count() == 1 + 8
    assert bands1.filter("band = -1").count() == 1

    # batch 2: re-delivered short doc (rejected via index), a NEW
    # short doc (admitted), and a different long doc (admitted)
    b2 = spark.createDataFrame(
        [(10, "tiny doc"), (11, "other snippet"), (12, _LONG_B)],
        "doc_id long, text string",
    )
    fresh2, bands2 = incremental_minhash_dedup(b2, bands1)
    assert sorted(r["doc_id"] for r in fresh2.collect()) == [11, 12]
    assert bands2.filter("band = -1").count() == 1  # only doc 11's


def test_streaming_fuzzy_corpus_dedup(spark, tmp_path):
    import json as _json

    landing = tmp_path / "fuzzy_docs"
    landing.mkdir()
    index_dir = str(tmp_path / "fuzzy_index")
    out_dir = str(tmp_path / "fuzzy_corpus")
    ckpt = str(tmp_path / "ckpt_fuzzy")

    def write_file(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write_file("b1.json", [
        {"doc_id": 1, "text": _LONG_A},
        {"doc_id": 2, "text": _LONG_B},
    ])
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(landing))
    q = stateful.streaming_fuzzy_corpus_dedup(stream, index_dir, out_dir, ckpt)
    try:
        q.processAllAvailable()
        # batch 2: a NEAR-duplicate (one word changed — exact hashing
        # would admit it) and one genuinely new doc
        write_file("b2.json", [
            {"doc_id": 10, "text": _LONG_A_NEAR},
            {"doc_id": 11, "text": _LONG_C},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    ids = sorted(r["doc_id"] for r in TxLogTable(out_dir).read(spark).collect())
    assert ids == [1, 2, 11]
    idx = TxLogTable(index_dir).read(spark)
    assert idx.count() == 3 * 8


def test_streaming_embedding_dedup(spark, tmp_path):
    """Semantic streaming dedup: a near-duplicate vector (tiny
    perturbation of an indexed one) is rejected via bucket collision +
    exact-cosine verify; orthogonal vectors pass. Index grows only for
    admitted vectors."""
    import json as _json

    landing = tmp_path / "vec_stream"
    landing.mkdir()
    index_dir = str(tmp_path / "vec_index")
    out_dir = str(tmp_path / "vec_corpus")
    ckpt = str(tmp_path / "ckpt_vec")

    def base_vec(axis, dim=8):
        return [1.0 if i == axis else 0.0 for i in range(dim)]

    def write_file(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write_file("b1.json", [
        {"vec_id": 1, "embedding": base_vec(0)},
        {"vec_id": 2, "embedding": base_vec(1)},
    ])
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).option("maxFilesPerTrigger", 1).json(str(landing))
    q = stateful.streaming_embedding_dedup(
        stream, index_dir, out_dir, ckpt, dim=8
    )
    try:
        q.processAllAvailable()
        near = base_vec(0)
        near[1] = 0.001  # cosine to vec 1 ~ 0.9999995 -> rejected
        write_file("b2.json", [
            {"vec_id": 10, "embedding": near},
            {"vec_id": 11, "embedding": base_vec(2)},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    from clickstreamtoclickhouse_spark.sinks.txlog import TxLogTable

    ids = sorted(
        r["vec_id"] for r in TxLogTable(out_dir).read(spark).collect()
    )
    assert ids == [1, 2, 11]
    idx_v = TxLogTable(f"{index_dir}/vectors").read(spark)
    assert sorted(r["vec_id"] for r in idx_v.collect()) == [1, 2, 11]
    idx_b = TxLogTable(f"{index_dir}/buckets").read(spark)
    assert {r["vec_id"] for r in idx_b.select("vec_id").collect()} == {1, 2, 11}


def test_incremental_minhash_dedup_conservative_chain(spark):
    """Pin the DOCUMENTED conservative keeper semantics: in a chain
    A~B~C (B collides with both, A and C don't collide directly), B is
    rejected against A and C is rejected against B even though B was
    itself dropped — the deterministic one-pass rule over-drops rather
    than replaying sequential admission. The expected set is computed
    independently from the band table, so implementation and spec are
    cross-checked."""
    from clickstreamtoclickhouse_spark.functions.dedup_text import (
        incremental_minhash_dedup,
        minhash_portable_bands,
    )

    t1 = _LONG_A
    t2 = _LONG_A.replace("quick", "swift").replace("morning", "evening")
    t3 = t2.replace("patient", "hungry").replace("riverbank", "shoreline")
    batch = spark.createDataFrame(
        [(1, t1), (2, t2), (3, t3)], "doc_id long, text string"
    )
    bands = minhash_portable_bands(batch, n=3, num_bands=8).select(
        "did", "band", "bk"
    ).collect()
    keys = {}
    for r in bands:
        keys.setdefault(r["did"], set()).add((r["band"], r["bk"]))
    # expected per the spec: survivor iff min-id holder of EVERY band
    # key it emits
    owner = {}
    for did, ks in keys.items():
        for k in ks:
            owner[k] = min(owner.get(k, did), did)
    expected = sorted(
        did for did, ks in keys.items() if all(owner[k] == did for k in ks)
    )
    fresh, _ = incremental_minhash_dedup(batch, None)
    got = sorted(r["doc_id"] for r in fresh.collect())
    assert got == expected
    # the scenario is only meaningful if the chain actually collides
    assert keys[1] & keys[2] and keys[2] & keys[3], "chain failed to collide"
    assert 2 not in got and 3 not in got and 1 in got


def test_streaming_heavy_hitters(spark, tmp_path):
    """Misra-Gries in GroupState across two micro-batches: the
    dominant item must survive with valid bounds (lower <= true <=
    lower + decrements), state stays capped at k counters, and the
    guarantee holds even though rare items may be evicted."""
    import json as _json

    d = tmp_path / "hhland"
    d.mkdir()
    # batch 1: hot x20, five rares x2; batch 2: hot x10, warm x8
    rows1 = [{"item_id": "hot", "timestamp": "2026-01-01T10:00:00"}] * 20
    for i in range(5):
        rows1 += [
            {"item_id": f"rare{i}", "timestamp": "2026-01-01T10:01:00"}
        ] * 2
    rows2 = [{"item_id": "hot", "timestamp": "2026-01-01T11:00:00"}] * 10
    rows2 += [{"item_id": "warm", "timestamp": "2026-01-01T11:01:00"}] * 8
    with open(d / "b1.json", "w") as f:
        for r in rows1:
            f.write(_json.dumps(r) + "\n")
    with open(d / "b2.json", "w") as f:
        for r in rows2:
            f.write(_json.dumps(r) + "\n")

    schema = "item_id string, timestamp string"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .withColumn("timestamp", F.to_timestamp("timestamp"))
    )
    # one shard so every item shares one summary — the adversarial case
    hh = stateful.streaming_heavy_hitters(
        raw, item_col="item_id", k=3, n_shards=1
    )
    out = _run(spark, hh, "hh_out", tmp_path, mode="update").collect()
    assert out, "no heavy-hitter rows emitted"
    final_seen = max(r["shard_seen"] for r in out)
    final = [r for r in out if r["shard_seen"] == final_seen]
    assert len(final) <= 3  # state capped at k counters
    by_item = {r["item"]: r for r in final}
    assert "hot" in by_item  # freq 30/48 >> n/(k+1): guaranteed present
    hot = by_item["hot"]
    assert hot["count_lower"] <= 30 <= hot["count_lower"] + hot["decrements"]
    assert final_seen == 48
    # MG guarantee: an EVICTED item's true count never exceeds the
    # accumulated decrements (rare items had true count 2 each)
    evicted = [i for i in range(5) if f"rare{i}" not in by_item]
    if evicted:
        assert hot["decrements"] >= 2


def test_streaming_embedding_dedup_out_dir_crash_replay_no_dups(
    spark, tmp_path
):
    """THE OTHER crash window (r8 VERDICT ask): out_dir appended, then
    a crash BEFORE the vectors append. On micro-batch replay the
    survivors recompute identically against the unchanged index; the
    txn idempotence token must make the replayed out append a no-op —
    zero duplicated output rows — while the index appends complete."""
    import json as _json
    import shutil

    from clickstreamtoclickhouse_spark.sinks.txlog import TxLogTable

    landing = tmp_path / "vec_stream3"
    landing.mkdir()
    index_dir = str(tmp_path / "vec_index3")
    out_dir = str(tmp_path / "vec_corpus3")
    ckpt = str(tmp_path / "ckpt_vec3")

    def base_vec(axis, dim=8):
        return [1.0 if i == axis else 0.0 for i in range(dim)]

    with open(landing / "b1.json", "w") as f:
        for r in (
            {"vec_id": 1, "embedding": base_vec(0)},
            {"vec_id": 2, "embedding": base_vec(1)},
        ):
            f.write(_json.dumps(r) + "\n")

    def run_stream():
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).json(str(landing))
        q = stateful.streaming_embedding_dedup(
            stream, index_dir, out_dir, ckpt, dim=8
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_stream()
    # simulate the crash window for batch 0: out_dir committed (txn
    # recorded) but the index appends never landed, and neither did
    # the streaming commit — the engine will replay the SAME batch
    shutil.rmtree(index_dir)
    shutil.rmtree(ckpt)
    run_stream()
    out_ids = sorted(
        r["vec_id"] for r in TxLogTable(out_dir).read(spark).collect()
    )
    assert out_ids == [1, 2]  # exactly once, despite full replay
    idx_v = TxLogTable(f"{index_dir}/vectors").read(spark)
    assert sorted(r["vec_id"] for r in idx_v.collect()) == [1, 2]
    idx_b = TxLogTable(f"{index_dir}/buckets").read(spark)
    assert {r["vec_id"] for r in idx_b.select("vec_id").collect()} == {1, 2}


def test_incremental_minhash_dedup_null_text_not_readmitted(spark):
    """NULL-text docs take the degenerate exact-identity path too: a
    re-delivered NULL-text doc must be rejected against the index
    (md5(NULL) would be a NULL join key that never matches)."""
    from clickstreamtoclickhouse_spark.functions.dedup_text import (
        incremental_minhash_dedup,
    )

    b1 = spark.createDataFrame(
        [(1, None), (2, "real words here enough for shingles")],
        "doc_id long, text string",
    )
    fresh1, idx1 = incremental_minhash_dedup(b1, None)
    assert sorted(r.doc_id for r in fresh1.collect()) == [1, 2]
    b2 = spark.createDataFrame(
        [(10, None), (11, "")], "doc_id long, text string"
    )
    fresh2, _ = incremental_minhash_dedup(b2, idx1)
    # NULL text re-delivery rejected; "" shares the no-content key
    assert fresh2.collect() == []


def test_streaming_drift_monitor_flags_shift(spark, tmp_path):
    import json as _json

    from clickstreamtoclickhouse_spark.streaming import monitor

    # reference: values uniform in [0, 100)
    ref_df = spark.range(1000).select(
        (F.col("id") % 100).cast("double").alias("value")
    )
    ref = monitor.histogram_shares(ref_df, "value", 0.0, 100.0, n_bins=10)
    assert abs(sum(ref.values()) - 1.0) < 1e-9

    landing = tmp_path / "drift_in"
    landing.mkdir()
    # batch 1: same uniform distribution -> PSI ~ 0
    with open(landing / "b1.json", "w") as f:
        for i in range(1000):
            f.write(_json.dumps({"value": float(i % 100)}) + "\n")
    stream = spark.readStream.schema("value double").json(str(landing))
    q = monitor.streaming_drift_monitor(
        stream,
        "value",
        0.0,
        100.0,
        ref,
        str(tmp_path / "drift_metrics"),
        str(tmp_path / "drift_ckpt"),
        psi_alert=0.25,
    )
    try:
        q.processAllAvailable()
        # batch 2: mass collapses into [0, 10) -> large PSI, alert
        with open(landing / "b2.json", "w") as f:
            for i in range(1000):
                f.write(_json.dumps({"value": float(i % 10)}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        r.batch_id: r
        for r in TxLogTable(str(tmp_path / "drift_metrics")).read(spark).collect()
    }
    assert rows[0].n_rows == 1000 and rows[1].n_rows == 1000
    assert rows[0].psi < 0.05 and not rows[0].alert
    assert rows[1].psi > 0.25 and rows[1].alert


def test_drift_monitor_excludes_nulls_consistently(spark, tmp_path):
    # NULL values must not crash the profile build (width_bucket(NULL)
    # used to yield a NULL bin that broke int(r.bin)) and must be
    # excluded IDENTICALLY on the reference and streaming sides
    import json as _json

    from clickstreamtoclickhouse_spark.streaming import monitor

    ref_df = spark.createDataFrame(
        [(float(i % 100),) for i in range(500)] + [(None,)] * 50,
        "value double",
    )
    ref = monitor.histogram_shares(ref_df, "value", 0.0, 100.0, n_bins=10)
    assert abs(sum(ref.values()) - 1.0) < 1e-9
    assert all(abs(v - 0.1) < 1e-9 for v in ref.values())  # NULLs excluded

    landing = tmp_path / "drift_null_in"
    landing.mkdir()
    with open(landing / "b1.json", "w") as f:
        for i in range(500):
            f.write(_json.dumps({"value": float(i % 100)}) + "\n")
        for _ in range(50):
            f.write(_json.dumps({"value": None}) + "\n")
    stream = spark.readStream.schema("value double").json(str(landing))
    q = monitor.streaming_drift_monitor(
        stream,
        "value",
        0.0,
        100.0,
        ref,
        str(tmp_path / "drift_null_metrics"),
        str(tmp_path / "drift_null_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = TxLogTable(str(tmp_path / "drift_null_metrics")).read(spark).collect()
    assert len(rows) == 1
    # n_rows counts only binned (non-NULL) rows; same-population PSI ~ 0
    assert rows[0].n_rows == 500
    assert rows[0].psi < 0.01 and not rows[0].alert


def test_markov_attribution_planted_sole_converting_channel(spark, tmp_path):
    from clickstreamtoclickhouse_spark import plans

    # clicks are the ONLY path to purchase; views never convert
    rows = []
    eid = 0
    for u in range(5):
        rows.append((eid, f"2026-01-01 00:0{u}:00", u, "click", 1.0)); eid += 1
        rows.append((eid, f"2026-01-01 00:0{u}:30", u, "purchase", 1.0)); eid += 1
    for u in range(10, 15):
        rows.append((eid, f"2026-01-01 00:0{u % 10}:00", u, "view", 1.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    d = tmp_path / "mkv"
    df.coalesce(1).write.parquet(str(d / "events.parquet"))
    out = {r.channel: r for r in plans.QUERIES["markov_attribution"](
        spark, str(d)).collect()}
    # removing clicks kills every conversion; removing views changes nothing
    assert out["click"].removal_effect == 1.0
    assert out["view"].removal_effect == 0.0
    assert out["click"].attribution_share == 1.0
    # channels absent from the data carry zero effect
    assert out["signup"].removal_effect == 0.0
    assert out["error"].removal_effect == 0.0


def test_markov_attribution_rejects_unbounded_state_space(spark, tmp_path):
    # the driver-side value iteration assumes an event-type-bounded
    # transition matrix; a channel vocabulary dense enough to exceed
    # the 10k-row collect bound must raise, not silently OOM the driver
    import itertools

    import pytest

    from clickstreamtoclickhouse_spark import plans

    types = [f"ch{i:03d}" for i in range(110)]
    rows = []
    for i, (a, b) in enumerate(itertools.product(types, types)):
        rows.append((2 * i, "2026-01-01 00:00:00", i, a, 1.0))
        rows.append((2 * i + 1, "2026-01-01 00:01:00", i, b, 1.0))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    d = tmp_path / "mkv_wide"
    df.coalesce(4).write.parquet(str(d / "events.parquet"))
    with pytest.raises(ValueError, match="transition matrix"):
        plans.QUERIES["markov_attribution"](spark, str(d))


def test_streaming_chunk_dedup_rejects_recrawled_text(spark, tmp_path):
    import json as _json

    landing = tmp_path / "chunks_in"
    landing.mkdir()
    long_a = " ".join(f"alpha{i}" for i in range(80))
    long_b = " ".join(f"beta{i}" for i in range(80))
    with open(landing / "b1.json", "w") as f:
        f.write(_json.dumps({"doc_id": 1, "text": long_a}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(landing)
    )
    q = stateful.streaming_chunk_dedup(
        stream,
        str(tmp_path / "chunk_idx"),
        str(tmp_path / "chunk_corpus"),
        str(tmp_path / "chunk_ckpt"),
    )
    try:
        q.processAllAvailable()
        # batch 2: doc 2 re-sends doc 1's TEXT (re-crawl under a new
        # id) -> zero new chunks; doc 3 is genuinely new -> admitted
        with open(landing / "b2.json", "w") as f:
            f.write(_json.dumps({"doc_id": 2, "text": long_a}) + "\n")
            f.write(_json.dumps({"doc_id": 3, "text": long_b}) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()
    corpus = TxLogTable(str(tmp_path / "chunk_corpus")).read(spark)
    srcs = {r.src_doc_id for r in corpus.select("src_doc_id").collect()}
    assert srcs == {1, 3}, srcs
    # 80 tokens / stride 32 -> 3 windows per doc, once each
    assert corpus.count() == 6
    assert corpus.select("chunk_id").distinct().count() == 6


def test_streaming_late_arrival_monitor_accounts_both_sides(
    spark, tmp_path
):
    """Rows older than max(event_time) - delay must land VERBATIM in
    the late quarantine (not silently vanish, as the engine's own
    watermark would make them); on-time rows fold into event-time
    window counts."""
    import json as _json

    from clickstreamtoclickhouse_spark.streaming import monitor

    landing = tmp_path / "late_in"
    landing.mkdir()
    with open(landing / "b1.json", "w") as f:
        f.write(_json.dumps({"ts": "2024-01-01 09:10:00", "v": 1}) + "\n")
        f.write(_json.dumps({"ts": "2024-01-01 10:00:00", "v": 2}) + "\n")
    stream = (
        spark.readStream.schema("ts timestamp, v long")
        .option("maxFilesPerTrigger", 1)
        .json(str(landing))
    )
    q = monitor.streaming_late_arrival_monitor(
        stream,
        "ts",
        str(tmp_path / "late_counts"),
        str(tmp_path / "late_rows"),
        str(tmp_path / "late_state"),
        str(tmp_path / "late_ckpt"),
        delay="1 hour",
        window="1 hour",
    )
    try:
        q.processAllAvailable()
        # batch 2: 08:30 is older than 10:00 - 1h -> late; 10:30 on-time
        with open(landing / "b2.json", "w") as f:
            f.write(
                _json.dumps({"ts": "2024-01-01 08:30:00", "v": 3}) + "\n"
            )
            f.write(
                _json.dumps({"ts": "2024-01-01 10:30:00", "v": 4}) + "\n"
            )
        q.processAllAvailable()
    finally:
        q.stop()

    late = TxLogTable(str(tmp_path / "late_rows")).read(spark).collect()
    assert [r.v for r in late] == [3]
    assert str(late[0]._watermark) == "2024-01-01 09:00:00"
    counts = TxLogTable(str(tmp_path / "late_counts")).read(spark)
    total = {
        str(r.window_start): 0 for r in counts.collect()
    }
    for r in counts.collect():
        total[str(r.window_start)] += r.n_rows
    assert total == {
        "2024-01-01 09:00:00": 1,
        "2024-01-01 10:00:00": 2,  # v=2 (batch 1) + v=4 (batch 2)
    }


def test_streaming_late_monitor_replay_uses_previous_watermark(
    spark, tmp_path
):
    """A REPLAYED batch (same batch_id as the persisted state) must
    classify against prev_max — the watermark its original attempt
    used — not the advanced cur_max, so at-least-once redelivery
    cannot flip a row from on-time to late."""
    import json as _json

    from clickstreamtoclickhouse_spark.streaming import monitor

    def micros(s):
        import datetime as dt

        return int(
            dt.datetime.fromisoformat(s).timestamp() * 1_000_000
        )

    state_dir = tmp_path / "replay_state"
    state_dir.mkdir()
    # pretend batch 0 already ran with prev_max 10:00 but the state
    # advanced to cur_max 20:00 before the crash
    (state_dir / "watermark.json").write_text(
        _json.dumps(
            {
                "batch_id": 0,
                "prev_max": micros("2024-01-01 10:00:00+00:00"),
                "cur_max": micros("2024-01-01 20:00:00+00:00"),
            }
        )
    )
    landing = tmp_path / "replay_in"
    landing.mkdir()
    # 09:30: on-time under prev_max (wm 09:00), LATE under cur_max
    with open(landing / "b1.json", "w") as f:
        f.write(_json.dumps({"ts": "2024-01-01 09:30:00", "v": 9}) + "\n")
    stream = spark.readStream.schema("ts timestamp, v long").json(
        str(landing)
    )
    q = monitor.streaming_late_arrival_monitor(
        stream,
        "ts",
        str(tmp_path / "replay_counts"),
        str(tmp_path / "replay_late"),
        str(state_dir),
        str(tmp_path / "replay_ckpt"),
        delay="1 hour",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import os

    assert not os.path.exists(str(tmp_path / "replay_late")) or (
        TxLogTable(str(tmp_path / "replay_late")).read(spark).count() == 0
    )
    counts = TxLogTable(str(tmp_path / "replay_counts")).read(spark).collect()
    assert sum(r.n_rows for r in counts) == 1


def test_streaming_url_frontier_collapses_variants(spark, tmp_path):
    """Crawl-frontier discipline: tracking-decorated / case / port /
    www / fragment variants of an already-admitted URL are rejected
    in later batches (and in-batch), genuinely new pages admitted."""
    import json as _json

    landing = tmp_path / "urls"
    landing.mkdir()
    index_dir = str(tmp_path / "uindex")
    out_dir = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "ckpt_urls")

    def write_file(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    # batch 1: two spellings of page /a (in-batch collapse) + page /b
    write_file("b1.json", [
        {"doc_id": 1, "url": "https://example.com/a"},
        {"doc_id": 2, "url": "HTTPS://WWW.Example.com:443/a/?utm_source=x"},
        {"doc_id": 3, "url": "https://example.com/b"},
    ])
    stream = spark.readStream.schema("doc_id long, url string").option(
        "maxFilesPerTrigger", 1
    ).json(str(landing))
    q = stateful.streaming_url_frontier(stream, index_dir, out_dir, ckpt)
    try:
        q.processAllAvailable()
        # batch 2: yet another /a variant + a re-send of /b + new /c
        write_file("b2.json", [
            {"doc_id": 10, "url": "https://example.com/a#frag"},
            {"doc_id": 11, "url": "https://example.com/b?gclid=zz"},
            {"doc_id": 12, "url": "https://example.com/c"},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    frontier = TxLogTable(out_dir).read(spark)
    ids = sorted(r["doc_id"] for r in frontier.collect())
    assert ids == [1, 3, 12]
    # the admitted rows carry the canonical form
    canon = {
        r["doc_id"]: r["canonical_url"] for r in frontier.collect()
    }
    assert canon[1] == "https://example.com/a"
    assert canon[3] == "https://example.com/b"


def test_streaming_source_quota(spark, tmp_path):
    """Per-source token budgets enforced across micro-batches:
    contiguous-prefix admission in (source, doc_id) order, a source
    that exhausts its budget admits nothing further, and the ledger
    totals never exceed the budget."""
    import json as _json

    landing = tmp_path / "docs"
    landing.mkdir()
    ledger_dir = str(tmp_path / "ledger")
    out_dir = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt_quota")

    def write_file(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def doc(i, src, n):
        return {"doc_id": i, "source": src,
                "text": " ".join(f"w{k}" for k in range(n))}

    # budget 10 tokens/source. batch 1: A spends 7 (4+3); B spends 9
    write_file("b1.json", [doc(1, "A", 4), doc(2, "A", 3), doc(3, "B", 9)])
    schema = "doc_id long, source string, text string"
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(landing))
    q = stateful.streaming_source_quota(
        stream, ledger_dir, out_dir, ckpt, budget_tokens=10
    )
    try:
        q.processAllAvailable()
        # batch 2: A has 3 left -> doc 10 (3 tokens) fits, doc 11 (2)
        # is blocked (contiguous prefix: 10 then 11 would need 5);
        # B has 1 left -> doc 12 (2 tokens) rejected; C fresh -> doc
        # 13 (10) exactly fills, doc 14 (1) rejected
        write_file("b2.json", [
            doc(10, "A", 3), doc(11, "A", 2),
            doc(12, "B", 2),
            doc(13, "C", 10), doc(14, "C", 1),
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    ids = sorted(r.doc_id for r in TxLogTable(out_dir).read(spark).collect())
    assert ids == [1, 2, 3, 10, 13]
    ledger = (
        TxLogTable(ledger_dir).read(spark)
        .groupBy("source")
        .sum("spent_tokens")
        .collect()
    )
    spent = {r["source"]: r["sum(spent_tokens)"] for r in ledger}
    assert spent == {"A": 10, "B": 9, "C": 10}
    assert all(v <= 10 for v in spent.values())


def test_streaming_contamination_screen(spark, tmp_path):
    """Online benchmark screen: docs embedding a benchmark 5-gram are
    quarantined with their hit count; clean docs land in the corpus.
    The split is exhaustive and exclusive across micro-batches."""
    import json as _json

    bench_dir = tmp_path / "bench"
    bench_dir.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(str(bench_dir))

    landing = tmp_path / "docs"
    landing.mkdir()
    out_dir = str(tmp_path / "clean")
    quarantine_dir = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt_screen")

    def write_file(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write_file("b1.json", [
        {"doc_id": 10, "text": "xx alpha beta gamma delta epsilon yy"},
        {"doc_id": 11, "text": "totally clean words nothing shared here"},
    ])
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(landing))
    q = stateful.streaming_contamination_screen(
        stream, str(bench_dir), out_dir, quarantine_dir, ckpt
    )
    try:
        q.processAllAvailable()
        write_file("b2.json", [
            # two hit grams: positions 1 and 2 of the bench text
            {"doc_id": 12, "text": "alpha beta gamma delta epsilon zeta tail"},
            {"doc_id": 13, "text": "another clean document entirely fresh"},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    clean = {r.doc_id for r in TxLogTable(out_dir).read(spark).collect()}
    quar = {
        r.doc_id: r.n_hit_grams
        for r in TxLogTable(quarantine_dir).read(spark).collect()
    }
    assert clean == {11, 13}
    assert set(quar) == {10, 12}
    assert quar[10] == 1 and quar[12] == 2


def _kill_and_replay(spark, tmp_path, monkeypatch, start, batches, tables, crash_table):
    """Feed `batches` (JSON rows, one micro-batch each) to the query
    `start(root, landing)` builds, twice: once clean, and once with
    batch 1's commit to `crash_table` raising, after which the query
    restarts on the same checkpoint and replays batch 1. Returns the
    rows of every table in `tables` for both runs."""
    runs = []
    for crash in (False, True):
        root = tmp_path / ("crash" if crash else "clean")
        landing = root / "landing"
        landing.mkdir(parents=True)

        def run():
            q = start(root, landing)
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        for i, rows in enumerate(batches):
            with open(landing / f"b{i}.json", "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
            if crash and i == 1:
                commit = TxLogTable._commit

                def crashing(self, *a, **k):
                    if self.path == root / crash_table:
                        raise RuntimeError("simulated crash")
                    return commit(self, *a, **k)

                with monkeypatch.context() as m:
                    m.setattr(TxLogTable, "_commit", crashing)
                    with pytest.raises(Exception, match="simulated crash"):
                        run()
            run()
        runs.append({
            t: sorted(tuple(r) for r in TxLogTable(str(root / t)).read(spark).collect())
            for t in tables
        })
    return runs


def test_streaming_source_quota_crash_replay_matches_clean_run(
    spark, tmp_path, monkeypatch
):
    """Crash after batch 1's ledger commit, before its corpus commit:
    the replay reads the ledger as of before batch 1, so it admits
    what the first attempt admitted instead of charging batch 1's
    spend twice (which admitted nothing of it)."""

    def doc(i, src, n):
        return {"doc_id": i, "source": src,
                "text": " ".join(f"w{k}" for k in range(n))}

    def start(root, landing):
        stream = spark.readStream.schema(
            "doc_id long, source string, text string"
        ).option("maxFilesPerTrigger", 1).json(str(landing))
        return stateful.streaming_source_quota(
            stream, str(root / "ledger"), str(root / "admitted"),
            str(root / "ckpt"), budget_tokens=10,
        )

    clean, crashed = _kill_and_replay(
        spark, tmp_path, monkeypatch, start,
        [
            [doc(1, "A", 4), doc(2, "A", 3), doc(3, "B", 9)],
            [doc(10, "A", 3), doc(11, "A", 2), doc(12, "B", 2),
             doc(13, "C", 10), doc(14, "C", 1)],
        ],
        ["ledger", "admitted"],
        "admitted",
    )
    assert sorted(r[0] for r in clean["admitted"]) == [1, 2, 3, 10, 13]
    assert crashed == clean


def test_streaming_embedding_dedup_crash_replay_matches_clean_run(
    spark, tmp_path, monkeypatch
):
    """Crash between batch 1's vectors and buckets commits: the replay
    screens against the index as of before batch 1, so the admitted
    vector does not collide with its own committed vector, and the
    missing bucket rows land."""

    def axis(i, eps=0.0):
        v = [1.0 if k == i else 0.0 for k in range(8)]
        v[(i + 1) % 8] += eps
        return v

    def start(root, landing):
        stream = spark.readStream.schema(
            "vec_id long, embedding array<float>"
        ).option("maxFilesPerTrigger", 1).json(str(landing))
        return stateful.streaming_embedding_dedup(
            stream, str(root / "index"), str(root / "out"),
            str(root / "ckpt"), dim=8,
        )

    clean, crashed = _kill_and_replay(
        spark, tmp_path, monkeypatch, start,
        [
            [{"vec_id": 1, "embedding": axis(0)},
             {"vec_id": 2, "embedding": axis(1)}],
            [{"vec_id": 10, "embedding": axis(0, 0.001)},
             {"vec_id": 11, "embedding": axis(2)}],
        ],
        ["out", "index/vectors", "index/buckets"],
        "index/buckets",
    )
    assert sorted(r[0] for r in clean["out"]) == [1, 2, 11]
    assert {r[0] for r in clean["index/buckets"]} == {1, 2, 11}
    assert crashed == clean
