"""End-to-end ingest pipeline tests over the FIXTURES.md §1 fixture:
flatten/decamelize/clean, event split, timestamp parse, event-name
normalization, millis, users ver, misfits quarantine, dedup views."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickstreamtoclickhouse_spark.operators import coerce, dedup, normalize, project
from clickstreamtoclickhouse_spark.pipeline import EventPipeline
from clickstreamtoclickhouse_spark.sources.flatten import flatten

FIXTURE_LINES = [
    # track with nested dicts, array, boolean, key needing cleaning
    {
        "messageId": "m-001", "anonymousId": "a-1",
        "receivedAt": "2026-01-02T03:04:06Z", "sentAt": "2026-01-02T03:04:05Z",
        "timestamp": "2026-01-02T03:04:05Z", "ip": "10.0.0.1",
        "channel": "mobile", "userId": "u-1", "writeKey": "wk-and",
        "type": "track", "event": "Product Viewed",
        "context": {"app": {"version": "1.2.3"}, "deviceType": "android"},
        "properties": {"sku": "S-9", "price": 12.5, "inStock": True,
                        "tags": ["new", "sale"], "bad key: x-y": "v"},
    },
    # duplicate (timestamp, messageId) of m-001 for dedup semantics
    {
        "messageId": "m-001", "anonymousId": "a-1",
        "receivedAt": "2026-01-02T03:04:07Z",
        "timestamp": "2026-01-02T03:04:05Z",
        "channel": "mobile", "userId": "u-1", "writeKey": "wk-and",
        "type": "track", "event": "Product Viewed",
        "properties": {"sku": "S-9"},
    },
    # identify (-> identities + users)
    {
        "messageId": "m-002", "anonymousId": "a-1",
        "receivedAt": "2026-01-02T03:05:06Z", "timestamp": "2026-01-02T03:05:05Z",
        "channel": "mobile", "userId": "u-1", "writeKey": "wk-and",
        "type": "identify",
        "traits": {"email": "u1@example.com", "plan": "pro", "age": 34},
    },
    # later identify for same user (users view keeps this one)
    {
        "messageId": "m-007", "anonymousId": "a-1",
        "receivedAt": "2026-01-02T04:05:06Z", "timestamp": "2026-01-02T04:05:05Z",
        "channel": "mobile", "userId": "u-1", "writeKey": "wk-and",
        "type": "identify",
        "traits": {"email": "u1@new.example.com", "plan": "enterprise"},
    },
    {
        "messageId": "m-003", "anonymousId": "a-2",
        "receivedAt": "2026-01-02T03:06:06Z", "timestamp": "2026-01-02T03:06:05Z",
        "channel": "web", "writeKey": "wk-web", "type": "page",
        "properties": {"url": "https://x.example/p", "referrer": ""},
    },
    {
        "messageId": "m-004", "anonymousId": "a-3",
        "receivedAt": "2026-01-02T03:07:06Z", "timestamp": "2026-01-02T03:07:05Z",
        "channel": "mobile", "userId": "u-2", "writeKey": "wk-and",
        "type": "screen", "properties": {"name": "Home"},
    },
    {
        "messageId": "m-005", "anonymousId": "a-3",
        "receivedAt": "2026-01-02T03:08:06Z", "timestamp": "2026-01-02T03:08:05Z",
        "channel": "server", "userId": "u-2", "writeKey": "wk-and",
        "type": "group", "traits": {"company": "Acme"},
    },
    {
        "messageId": "m-006", "anonymousId": "a-3",
        "receivedAt": "2026-01-02T03:09:06Z", "timestamp": "2026-01-02T03:09:05Z",
        "channel": "server", "userId": "u-2", "writeKey": "wk-and",
        "type": "alias", "previousId": "a-3",
    },
    # track with CamelCase event name + '&' and an all-null column
    {
        "messageId": "m-008", "anonymousId": "a-4",
        "receivedAt": "2026-01-02T05:04:06Z", "timestamp": "2026-01-02T05:04:05Z",
        "channel": "mobile", "userId": "u-3", "writeKey": "wk-and",
        "type": "track", "event": "Cart & CheckoutFlow",
        "properties": {"sku": None},
    },
]


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ndjson")
    with open(d / "events.json", "w") as f:
        for line in FIXTURE_LINES:
            f.write(json.dumps(line) + "\n")
    # one corrupt line in a second file
    with open(d / "bad.json", "w") as f:
        f.write('{"messageId": "m-badjson", "type": "track",\n')
    return str(d)


@pytest.fixture(scope="module")
def result(spark, fixture_dir):
    pipe = EventPipeline(spark, namespace="myApp")
    res = pipe.ingest_json_dir(fixture_dir)
    yield res


def test_flatten_names(result):
    tracks = result.tables["tracks"]
    assert "context_app_version" in tracks.columns
    assert "context_device_type" in tracks.columns  # deviceType decamelized
    # properties_* excluded from common tracks table
    assert not any(c.startswith("properties_") for c in tracks.columns)


def test_per_event_tables(result):
    # "Product Viewed" -> product_viewed; "Cart & CheckoutFlow" -> cartand_checkout_flow
    assert "product_viewed" in result.event_tables
    pv = result.event_tables["product_viewed"]
    assert "properties_sku" in pv.columns
    assert "properties_tags_0" in pv.columns  # array -> indexed cols
    assert "properties_tags_1" in pv.columns
    assert "properties_badkey_x_y" in pv.columns  # cleaned key
    row = pv.orderBy("message_id").first()
    assert row["properties_tags_0"] == "new"
    assert row["original_event"] == "Product Viewed"


def test_event_name_normalization(result):
    names = set(result.event_tables)
    # strip spaces, & -> and, decamelize, lower (send_to_warehouse.py:48-51)
    assert any("cart" in n and "and" in n for n in names), names


def test_timestamps_and_millis(result):
    t = result.tables["tracks"].filter(F.col("message_id") == "m-001").first()
    assert isinstance(t["timestamp"], datetime.datetime)
    assert t["unix_timestamp_in_millis"] == 1767323045000


def test_users_ver_and_latest_view(result):
    users = result.tables["users"]
    assert "ver" in users.columns
    # ver is int64 nanoseconds
    first = users.filter(F.col("message_id") == "m-002").first()
    assert first["ver"] == 1767323105000000000
    latest = dedup.latest_version_view(users).filter(F.col("user_id") == "u-1").collect()
    assert len(latest) == 1
    assert latest[0]["traits_plan"] == "enterprise"


def test_dedup_by_sort_key(result):
    tracks = result.tables["tracks"]
    assert tracks.filter(F.col("message_id") == "m-001").count() == 2
    deduped = dedup.dedup_by_sort_key(tracks)
    assert deduped.filter(F.col("message_id") == "m-001").count() == 1


def test_corrupt_quarantine(result):
    assert result.corrupt.count() == 1


def test_split_routing(result):
    assert result.tables["groups"].count() == 1   # deviation: own table
    assert result.tables["aliases"].count() == 1
    assert result.tables["identities"].count() == 2
    assert result.tables["pages"].count() == 1
    assert result.tables["screens"].count() == 1


def test_extra_timestamps(spark, fixture_dir):
    pipe = EventPipeline(spark, extra_timestamps={"ist_timestamp": "Asia/Kolkata"})
    res = pipe.ingest_json_dir(fixture_dir)
    t = res.tables["identities"].filter(F.col("message_id") == "m-002").first()
    # 03:05:05 UTC + 5:30 = 08:35:05 wall clock, stored naive
    assert t["ist_timestamp"].hour == 8 and t["ist_timestamp"].minute == 35


def test_extra_timestamp_collision_raises(spark, fixture_dir):
    pipe = EventPipeline(spark, extra_timestamps={"timestamp": "Asia/Kolkata"})
    with pytest.raises(ValueError):
        pipe.ingest_json_dir(fixture_dir)


def test_misfit_quarantine(spark):
    df = spark.createDataFrame(
        [("m1", "42", "1.5"), ("m2", "abc", "2.0"), ("m3", None, "xyz")],
        "message_id string, n string, f string",
    )
    expected = {"n": T.LongType(), "f": T.DoubleType()}
    clean, misfits = coerce.reconcile_types(df, expected, "mytable")
    assert dict(clean.dtypes)["n"] == "bigint"
    rows = {r["message_id"]: r for r in misfits.collect()}
    assert set(rows) == {"m2", "m3"}
    assert rows["m2"]["column_name"] == "n"
    assert rows["m2"]["column_value"] == "abc"
    assert rows["m3"]["column_name"] == "f"
    # cleaned values: failures nulled, successes cast
    vals = {r["message_id"]: (r["n"], r["f"]) for r in clean.collect()}
    assert vals["m1"] == (42, 1.5)
    assert vals["m2"] == (None, 2.0)
    assert vals["m3"] == (None, None)


def test_try_cast_matches_python_int_semantics(spark):
    # int("3.5") raises in Python -> misfit; try_cast must agree (SURVEY §7.2 risk)
    df = spark.createDataFrame([("m1", "3.5")], "message_id string, n string")
    clean, misfits = coerce.reconcile_types(df, {"n": T.LongType()}, "t")
    assert clean.first()["n"] is None
    assert misfits.count() == 1


def test_booleans_to_int(spark):
    df = spark.createDataFrame([(True,), (None,)], "b boolean")
    out = normalize.booleans_to_int(df)
    assert [r["b"] for r in out.collect()] == [1, 0]


def test_columns_with_data(spark):
    df = spark.createDataFrame([("a", None), ("b", None)], "x string, y string")
    assert project.columns_with_data(df) == ["x"]


def test_add_missing_columns(spark):
    df = spark.createDataFrame([("a",)], "x string")
    out = project.add_missing_columns(df, {"x": T.StringType(), "z": T.LongType()})
    assert dict(out.dtypes) == {"x": "string", "z": "bigint"}


def test_flatten_idempotent_on_flat(spark):
    df = spark.createDataFrame([(1, "a")], "x long, someKey string")
    out = flatten(df)
    assert out.columns == ["x", "some_key"]
    assert flatten(out).columns == ["x", "some_key"]


def test_flatten_ragged_and_empty_arrays(spark):
    # indexed columns run to the longest row; shorter and empty rows
    # read null past their end (reference: missing key -> NaN)
    df = spark.createDataFrame(
        [(1, ["x", "y"]), (2, []), (3, ["z"])], "id long, tags array<string>"
    )
    out = flatten(df)
    assert out.columns == ["id", "tags_0", "tags_1"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "x", "y"),
        (2, None, None),
        (3, "z", None),
    ]


def test_s3a_read_path_classpath_story(spark):
    # S1: S3 ingest = spark.read over s3a:// in place (reference
    # downloads via aws-cli first, seghouse/util/aws_wrapper.py:10-26).
    # The connector jar is cluster-provided (README "Reading from S3");
    # this environment has none, so pin the failure mode a user sees —
    # a fast, clear classpath error naming S3AFileSystem — and skip
    # the live read. With hadoop-aws present the same call reads S3.
    import pytest as _pytest

    try:
        spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
        has_s3a = True
    except Exception:
        has_s3a = False
    if not has_s3a:
        with _pytest.raises(Exception, match="S3AFileSystem"):
            spark.read.json("s3a://bucket/prefix/*.json").count()
        _pytest.skip("hadoop-aws jar not on classpath (expected in this env)")
    # jar present (cluster run): the URI must at least resolve the
    # filesystem class; a real read still needs credentials/network
    spark._jvm.org.apache.hadoop.fs.s3a.S3AFileSystem


def test_read_csv_events_with_quarantine(spark, tmp_path):
    from clickstreamtoclickhouse_spark.sources.readers import read_csv_events

    p = tmp_path / "events.csv"
    p.write_text(
        "user_id,event,n\n"
        "1,click,10\n"
        "2,view,20\n"
        "not-an-int,purchase,not-an-int-either,extra-field\n"
        "3,click,30\n"
    )
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("user_id", IntegerType()),
            StructField("event", StringType()),
            StructField("n", IntegerType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    raw = read_csv_events(spark, str(p), schema=schema)
    good = raw.events.collect()
    assert sorted(r["user_id"] for r in good) == [1, 2, 3]
    bad = raw.corrupt.collect()
    assert len(bad) == 1 and "purchase" in bad[0][0]
    if raw.cached is not None:
        raw.cached.unpersist()


def test_eventgen_python_datasource(spark):
    from pyspark.sql import functions as F

    from clickstreamtoclickhouse_spark.sources import generator

    generator.register(spark)
    df = (
        spark.read.format("eventgen")
        .option("rows", "1000")
        .option("partitions", "4")
        .option("users", "50")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # executor-parallel scan
    assert df.count() == 1000
    # deterministic: a second read produces identical data
    df2 = (
        spark.read.format("eventgen")
        .option("rows", "1000")
        .option("partitions", "4")
        .option("users", "50")
        .load()
    )
    a = df.agg(F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()[0]
    b = df2.agg(F.sum(F.xxhash64(*df2.columns).cast("decimal(38,0)"))).first()[0]
    assert a == b
    # composes with ordinary operators
    by_type = dict(
        (r["event_type"], r["n"])
        for r in df.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    )
    assert sum(by_type.values()) == 1000 and len(by_type) == 5
    assert df.filter((F.col("user_id") < 0) | (F.col("user_id") >= 50)).count() == 0


def test_eventgen_streaming_source(spark, tmp_path):
    import time

    from clickstreamtoclickhouse_spark.sources import generator

    generator.register(spark)
    stream = (
        spark.readStream.format("eventgen")
        .option("rowsPerBatch", "50")
        .option("users", "10")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("gen_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_gen"))
        .start()
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM gen_stream").first()["c"]
            if n >= 100:
                break
            time.sleep(0.5)
        assert n >= 100, f"only {n} rows after 60s"
    finally:
        q.stop()
    # offset-range determinism: the first 50 streamed rows equal the
    # batch source's first 50 rows
    got = sorted(
        map(tuple, spark.sql(
            "SELECT event_id, user_id, event_type FROM gen_stream "
            "WHERE event_id < 50"
        ).distinct().collect())
    )
    want = sorted(
        map(tuple, spark.read.format("eventgen").option("rows", "50")
            .option("users", "10").load()
            .select("event_id", "user_id", "event_type").collect())
    )
    assert got == want


def test_read_orc_events_round_trip(spark, tmp_path):
    """ORC source parity with the parquet path: same rows, same
    schema, and the columnar scan prunes columns + pushes filters
    exactly like parquet (pinned on the explain output)."""
    import contextlib
    import io

    from clickstreamtoclickhouse_spark.sources import readers

    from .conftest import SF_DIR

    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    orc_dir = str(tmp_path / "events_orc")
    src.write.orc(orc_dir)
    back = readers.read_orc_events(spark, orc_dir)
    assert back.count() == src.count()
    assert dict(back.dtypes) == dict(src.dtypes)
    probe = back.filter(F.col("event_id") < 100).select("event_id", "event_type")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    txt = buf.getvalue()
    assert "PushedFilters: [IsNotNull(event_id), LessThan(event_id,100)]" in txt
    sch = next(l for l in txt.splitlines() if "ReadSchema" in l)
    assert "props" not in sch and "value" not in sch
