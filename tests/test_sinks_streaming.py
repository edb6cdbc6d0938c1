"""Sink semantics (Q1-Q4 on parquet), ClickHouse DDL generation, and
the Structured Streaming ingest path."""

from __future__ import annotations

import json
import random
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickstreamtoclickhouse_spark.pipeline import EventPipeline
from clickstreamtoclickhouse_spark.sinks import clickhouse as ch
from clickstreamtoclickhouse_spark.sinks.parquet_sink import ParquetWarehouse
from clickstreamtoclickhouse_spark.streaming import ingest as st

from .test_ingest import FIXTURE_LINES


def _write_ndjson(d, name, lines):
    with open(d / name, "w") as f:
        for line in lines:
            f.write(json.dumps(line) + "\n")


@pytest.fixture()
def landing(tmp_path):
    _write_ndjson(tmp_path, "batch1.json", FIXTURE_LINES)
    return tmp_path


def test_parquet_sink_roundtrip(spark, landing, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    wh.connect()
    res = EventPipeline(spark).ingest_json_dir(str(landing))
    wh.insert_df("ns", "tracks", res.tables["tracks"])
    back = wh.read_table("ns", "tracks")
    assert back.count() == res.tables["tracks"].count()
    # Q3: partitioned by event_date
    assert "event_date" in back.columns
    # Q1 read view: duplicate (timestamp, message_id) collapses
    assert wh.read_view("ns", "tracks").filter(F.col("message_id") == "m-001").count() == 1


def test_parquet_sink_schema_evolution(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    df1 = spark.createDataFrame(
        [("m1", "2026-01-01 00:00:00")], "message_id string, timestamp string"
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    df2 = df1.withColumn("new_col", F.lit(7))
    wh.insert_df("ns", "t", df1)
    wh.insert_df("ns", "t", df2)
    merged = wh.read_table("ns", "t")
    assert "new_col" in merged.columns  # additive evolution on read
    assert merged.count() == 2
    actual = wh.describe_table("ns", "t")
    assert "new_col" in actual


def test_parquet_users_view_and_compact(spark, landing, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    res = EventPipeline(spark).ingest_json_dir(str(landing))
    wh.insert_df("ns", "users", res.tables["users"])
    wh.insert_df("ns", "users", res.tables["users"])  # re-ingest (at-least-once)
    assert wh.read_table("ns", "users").count() == 4
    view = wh.read_view("ns", "users")
    assert view.count() == 1  # latest identify for u-1 only
    assert view.first()["traits_plan"] == "enterprise"
    wh.compact("ns", "users")
    assert wh.read_table("ns", "users").count() == 1  # at-rest now deduped
    assert wh.read_view("ns", "users").first()["traits_plan"] == "enterprise"


def test_parquet_sink_files_keep_sort_key(spark, tmp_path):
    # Q4: every date file is ordered by (timestamp, message_id) after an
    # insert of shuffled rows and after compact
    rng = random.Random(3)
    rows = [(f"m{i:05d}", 1767225600 + rng.randrange(3 * 86400)) for i in range(3000)]
    rng.shuffle(rows)
    df = (
        spark.createDataFrame(rows, "message_id string, ts long")
        .repartition(4)
        .select("message_id", F.col("ts").cast("timestamp").alias("timestamp"))
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    table = tmp_path / "lake" / "ns" / "t"

    def assert_files_sorted():
        files = sorted(table.glob("event_date=*/*.parquet"))
        assert len({f.parent for f in files}) == 3
        for f in files:
            t = pq.read_table(f, columns=["timestamp", "message_id"])
            keys = list(zip(t["timestamp"].to_pylist(), t["message_id"].to_pylist()))
            assert keys == sorted(keys), f

    wh.insert_df("ns", "t", df)
    assert_files_sorted()
    wh.compact("ns", "t")
    assert_files_sorted()
    assert wh.read_table("ns", "t").count() == 3000


def test_parquet_compact_interrupted_loses_nothing(spark, landing, tmp_path, monkeypatch):
    # a crash after compact has written its new files but before it
    # finishes must leave the table exactly as it was
    from clickstreamtoclickhouse_spark.sinks.txlog import TxLogTable

    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    res = EventPipeline(spark).ingest_json_dir(str(landing))
    wh.insert_df("ns", "tracks", res.tables["tracks"])
    wh.insert_df("ns", "tracks", res.tables["tracks"])  # re-ingest (at-least-once)

    def rows(df):
        return sorted(str(r) for r in df.collect())

    raw, view = rows(wh.read_table("ns", "tracks")), rows(wh.read_view("ns", "tracks"))
    assert len(raw) > len(view)  # compact would change the raw rows

    def crash(*args, **kwargs):
        raise RuntimeError("simulated crash")

    with monkeypatch.context() as m:
        m.setattr(TxLogTable, "_commit", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            wh.compact("ns", "tracks")
    assert rows(wh.read_table("ns", "tracks")) == raw
    assert rows(wh.read_view("ns", "tracks")) == view

    # the next compact lands and reclaims the crashed one's files too
    wh.compact("ns", "tracks")
    assert rows(wh.read_table("ns", "tracks")) == view
    table = tmp_path / "lake" / "ns" / "tracks"
    on_disk = {p.relative_to(table).as_posix() for p in table.glob("event_date=*/*.parquet")}
    assert on_disk == set(TxLogTable(str(table)).snapshot().files)


@pytest.mark.parametrize("inject_into", ["_clustered", "_write_files"])
def test_compact_keeps_a_commit_that_lands_mid_compact(spark, tmp_path, monkeypatch, inject_into):
    # another writer commits after compact has read the table (while
    # its view is clustered) or while compact writes its files: the
    # compacted table must hold the view plus that row
    from clickstreamtoclickhouse_spark.sinks import parquet_sink
    from clickstreamtoclickhouse_spark.sinks.txlog import TxLogTable

    def batch(*rows):
        return spark.createDataFrame(rows, "message_id string, timestamp string").withColumn(
            "timestamp", F.to_timestamp("timestamp")
        )

    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    wh.insert_df("ns", "t", batch(("m1", "2026-01-01 00:00:01"), ("m2", "2026-01-01 00:00:02")))
    wh.insert_df("ns", "t", batch(("m2", "2026-01-01 00:00:02")))
    other = TxLogTable(str(tmp_path / "lake" / "ns" / "t"), partition_col="event_date")
    m3 = parquet_sink._clustered(batch(("m3", "2026-01-02 00:00:03")))

    owner = parquet_sink if inject_into == "_clustered" else TxLogTable
    inner = getattr(owner, inject_into)
    landed = []

    def commit_first(*args, **kwargs):
        if not landed:
            landed.append("m3")  # before the append, which writes files too
            other.append(m3)
        return inner(*args, **kwargs)

    monkeypatch.setattr(owner, inject_into, commit_first)
    wh.compact("ns", "t")
    assert landed
    assert sorted(r["message_id"] for r in wh.read_table("ns", "t").collect()) == ["m1", "m2", "m3"]


def test_txlog_vacuum_drops_emptied_partition_dirs(spark, tmp_path):
    from clickstreamtoclickhouse_spark.sinks.txlog import TxLogTable

    t = TxLogTable(str(tmp_path / "t"), partition_col="d")
    t.append(spark.createDataFrame([(1, "2026-01-01"), (2, "2026-01-02")], "id long, d string"))
    t.rewrite(spark, lambda _: spark.createDataFrame([(3, "2026-01-02")], "id long, d string"))
    assert len(t.vacuum()) == 2
    assert sorted(p.name for p in (tmp_path / "t").iterdir()) == [
        "_staging", "_txlog", "d=2026-01-02",
    ]
    assert [(r["id"], r["d"]) for r in t.read(spark).collect()] == [(3, "2026-01-02")]


def test_parquet_sink_rejects_table_without_commit_log(spark, tmp_path):
    # parquet files with no _txlog commit were written before the
    # table had a commit log; reading them as an empty table would
    # silently drop every row
    import re

    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    old = tmp_path / "lake" / "ns" / "t"
    spark.createDataFrame([("m1", 1)], "message_id string, n long").write.parquet(str(old))
    with pytest.raises(ValueError, match=re.escape(str(old))):
        wh.describe_table("ns", "t")
    with pytest.raises(ValueError, match=re.escape(str(old))):
        wh.read_table("ns", "t")
    # a table that was never written is just new
    assert wh.describe_table("ns", "fresh") == {}


def test_parquet_sink_schema_and_reader_setup_start_no_job(spark, tmp_path):
    # describe_table and building read_table's DataFrame come from the
    # commit log: no footer scan, no listing job
    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    df1 = spark.createDataFrame(
        [("m1", "2026-01-01 00:00:00"), ("m2", "2026-01-02 00:00:00")],
        "message_id string, timestamp string",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    wh.insert_df("ns", "t", df1)
    wh.insert_df("ns", "t", df1.withColumn("n", F.lit(7)))

    sc = spark.sparkContext
    group = f"no-job-probe-{tmp_path.name}"

    def jobs_started(call):
        sc.setJobGroup(group, "job count probe")
        try:
            out = call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    n, described = jobs_started(lambda: wh.describe_table("ns", "t"))
    assert n == 0
    assert set(described) == {"message_id", "timestamp", "n"}
    n, df = jobs_started(lambda: wh.read_table("ns", "t"))
    assert n == 0
    assert df.filter(F.col("event_date") == "2026-01-02").count() == 2
    # older files read the newer column as null
    assert sorted(r["n"] or 0 for r in df.collect()) == [0, 0, 7, 7]


def test_store_result_runs_one_job_per_landed_table(spark, tmp_path):
    # the landing writes each non-empty table with one job and decides
    # misfits with at most one more job plus their write: no per-table
    # emptiness probe. A batch without screen events or misfits
    # creates neither table.
    from clickstreamtoclickhouse_spark.app import store_result

    landing = tmp_path / "landing"
    landing.mkdir()
    _write_ndjson(landing, "b.json", [e for e in FIXTURE_LINES if e["type"] != "screen"])
    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    res = EventPipeline(spark).ingest_json_dir(str(landing))

    sc = spark.sparkContext
    group = f"landing-probe-{tmp_path.name}"
    sc.setJobGroup(group, "landing job count")
    try:
        store_result(res, [wh], "ns")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        res.unpersist()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))

    landed = sorted(p.name for p in (tmp_path / "lake" / "ns").iterdir())
    assert landed == sorted([
        "aliases", "cartand_checkout_flow", "groups", "identities", "pages",
        "product_viewed", "tracks", "users",
    ])
    assert jobs <= len(landed) + 2, (jobs, landed)


def test_clickhouse_ddl_generation():
    cols = {
        "message_id": T.StringType(),
        "timestamp": T.TimestampType(),
        "n": T.LongType(),
        "ok": T.BooleanType(),
    }
    sql = ch.ddl_create_table("app", "tracks", cols)
    assert "CREATE TABLE IF NOT EXISTS `app`.`tracks`" in sql
    assert "`message_id` String" in sql  # non-null -> bare type
    assert "`n` Nullable(Int64)" in sql
    assert "`ok` Nullable(UInt8)" in sql  # bools stored as UInt8
    assert "ENGINE = ReplacingMergeTree()" in sql
    assert "PARTITION BY toDate(timestamp)" in sql
    assert "ORDER BY (timestamp, message_id)" in sql

    usql = ch.ddl_create_users_table("app", {**cols, "user_id": T.StringType(), "ver": T.LongType()})
    assert "ReplacingMergeTree(ver)" in usql and "ORDER BY (user_id)" in usql
    assert "`ver` Int64" in usql  # non-null on users
    # no partition clause on users (reference clickhouse.py:112-118):
    # RMT dedups within a partition only — day-partitioning would keep
    # one row per (user, day) and break latest-per-user upserts
    assert "PARTITION BY" not in usql

    msql = ch.ddl_create_misfits_table("app")
    assert "ORDER BY (message_id, table_name, column_name)" in msql
    assert "ReplacingMergeTree()" in msql  # re-ingest dedup contract

    asql = ch.ddl_add_column("app", "tracks", "traits_x", T.DoubleType())
    assert asql == (
        "ALTER TABLE `app`.`tracks` ADD COLUMN IF NOT EXISTS `traits_x` Nullable(Float64)"
    )


def test_clickhouse_reverse_type_map():
    assert isinstance(ch.ch_type_to_spark("Nullable(String)"), T.StringType)
    assert isinstance(ch.ch_type_to_spark("Nullable(Int64)"), T.LongType)
    assert isinstance(ch.ch_type_to_spark("DateTime64(3)"), T.TimestampType)
    # UInt8 maps to integer (reference's unreachable-BOOLEAN quirk,
    # clickhouse.py:148-149 vs :174-175)
    assert isinstance(ch.ch_type_to_spark("Nullable(UInt8)"), T.IntegerType)


def test_clickhouse_gated_without_driver(spark):
    wh = ch.ClickHouseWarehouse(spark)
    with pytest.raises(RuntimeError, match="jdbc_url"):
        wh.connect()


def test_get_warehouse_rejects_unknown_kinds():
    # a config with `type: delta` fails like any other unknown kind
    from clickstreamtoclickhouse_spark.sinks.warehouse import get_warehouse

    for kind in ("delta", "junk"):
        with pytest.raises(ValueError, match=f"unknown warehouse kind: {kind}"):
            get_warehouse(kind)


def test_streaming_ingest(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_ndjson(landing, "batch1.json", FIXTURE_LINES[:3])
    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    pipe = EventPipeline(spark)

    def sink(result, batch_id):
        for name, df in result.tables.items():
            if df.count() > 0:
                wh.insert_df("ns", name, df)

    q = st.stream_events(
        spark, str(landing), pipe, sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        # second micro-batch: new file appears
        _write_ndjson(landing, "batch2.json", FIXTURE_LINES[3:5])
        time.sleep(0.2)
        q.processAllAvailable()
    finally:
        q.stop()

    tracks = wh.read_table("ns", "tracks")
    assert tracks.count() == 2  # m-001 x2
    idents = wh.read_table("ns", "identities")
    assert idents.count() == 2  # m-002 batch1 + m-007 batch2


def test_streaming_ingest_lands_what_batch_ingest_lands(spark, tmp_path):
    # one parse path: a landing dir with two event types and one
    # malformed line lands the same tables, columns and rows through
    # the stream as through the batch read, and both quarantine the
    # bad line instead of landing a `_corrupt_record` column
    from clickstreamtoclickhouse_spark.app import store_result

    landing = tmp_path / "landing"
    landing.mkdir()
    _write_ndjson(landing, "events.json", FIXTURE_LINES)
    with open(landing / "bad.json", "w") as f:
        f.write('{"messageId": "m-badjson", "type": "track",\n')
    pipe = EventPipeline(spark)
    corrupt = {}

    batch_wh = ParquetWarehouse(spark, str(tmp_path / "batch"))
    res = pipe.ingest_json_dir(str(landing))
    try:
        store_result(res, [batch_wh], "ns")
        corrupt["batch"] = res.corrupt.count()
    finally:
        res.unpersist()

    stream_wh = ParquetWarehouse(spark, str(tmp_path / "stream"))

    def sink(result, batch_id):
        store_result(result, [stream_wh], "ns")
        corrupt["stream"] = corrupt.get("stream", 0) + result.corrupt.count()

    q = st.stream_events(
        spark, str(landing), pipe, sink, checkpoint_dir=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert corrupt == {"batch": 1, "stream": 1}
    tables = sorted(p.name for p in (tmp_path / "batch" / "ns").iterdir())
    assert tables == sorted(p.name for p in (tmp_path / "stream" / "ns").iterdir())
    assert {"tracks", "identities", "product_viewed"} <= set(tables)
    for t in tables:
        b, s = batch_wh.read_table("ns", t), stream_wh.read_table("ns", t)
        assert sorted(b.columns) == sorted(s.columns), t
        assert "_corrupt_record" not in s.columns, t
        cols = sorted(b.columns)
        rows = [sorted(map(str, df.select(*cols).collect())) for df in (b, s)]
        assert rows[0] == rows[1], t


def test_windowed_counts_streaming(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    _write_ndjson(landing, "b.json", FIXTURE_LINES)
    schema = st.infer_event_schema(spark, str(landing))
    stream = spark.readStream.schema(schema).json(str(landing))
    stream = stream.withColumn("timestamp", F.to_timestamp("timestamp"))
    agg = st.windowed_counts(stream, window="1 hour", key_col="type")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory").queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode only emits closed windows; just assert the query ran
    # and the schema is right
    out = spark.sql("SELECT * FROM win_counts")
    assert set(out.columns) == {"window_start", "window_end", "type", "n_events"}


def test_store_table_reconciles_and_quarantines(spark, tmp_path):
    # the real write path (app.store_table) must evolve the table,
    # coerce the batch to the table's ACTUAL schema, and land
    # unfixable values in the misfits table — the C2-C5 contract
    # wired end-to-end, not just unit-level
    from clickstreamtoclickhouse_spark.app import store_misfits, store_table

    wh = ParquetWarehouse(spark, str(tmp_path / "lake"))
    wh.connect()
    df1 = spark.createDataFrame(
        [("m1", "2026-01-01 00:00:00", 7)],
        "message_id string, timestamp string, n long",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    store_table(wh, "ns", "t", df1)

    # second batch: n arrives as junk STRING -> table wins (long),
    # junk nulled + quarantined, valid value cast
    df2 = spark.createDataFrame(
        [("m2", "2026-01-02 00:00:00", "abc"), ("m3", "2026-01-02 00:00:00", "42")],
        "message_id string, timestamp string, n string",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    store_misfits(wh, "ns", [store_table(wh, "ns", "t", df2)])

    back = wh.read_table("ns", "t")
    vals = {r.message_id: r.n for r in back.collect()}
    assert vals == {"m1": 7, "m2": None, "m3": 42}
    mis = wh.read_table("ns", "misfits").collect()
    assert len(mis) == 1
    assert mis[0].message_id == "m2" and mis[0].column_name == "n"
    assert mis[0].table_name == "t" and mis[0].column_value == "abc"


def test_streaming_batches_unpersist(spark, tmp_path):
    # foreachBatch must release each micro-batch's cached scans —
    # a long-running stream otherwise leaks storage memory
    res = EventPipeline(spark).ingest_df(
        spark.createDataFrame(
            [("track", "m1", "2026-01-01T00:00:00Z")],
            "type string, message_id string, timestamp string",
        )
    )
    assert res.cached, "batch pipeline should cache the split parent"
    assert all(df.is_cached for df in res.cached)
    res.unpersist()
    assert not res.cached


class _DerbyDialectWarehouse(ch.ClickHouseWarehouse):
    """ClickHouseWarehouse with the CH-specific DDL renderers swapped
    for Derby's ANSI dialect (Derby is the embeddable JDBC target
    bundled with Spark). Every piece of MACHINERY — connect/_execute/
    _query_pairs, the evolve loop, executor-parallel jdbc appends —
    is the production code; only the SQL strings differ, and those
    are contract-tested separately (test_clickhouse_ddl_contract)."""

    QUOTE = '"'
    PROBE_SQL = "VALUES 1"

    def _sql_type(self, dtype) -> str:
        # strings map to CLOB, matching Spark's DerbyDialect: the jdbc
        # writer binds NULL strings as setNull(CLOB), which a VARCHAR
        # column rejects (ERROR 22005) — surfaced by the pipeline
        # fan-out test, whose tables carry NULL string cells
        return {
            T.LongType: "BIGINT",
            T.IntegerType: "INTEGER",
            T.DoubleType: "DOUBLE",
            T.BooleanType: "SMALLINT",
            T.TimestampType: "TIMESTAMP",
        }.get(type(dtype), "CLOB")

    def _swallow_exists(self, sql: str) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            self._execute(sql)
        except Py4JJavaError as e:  # Derby lacks IF NOT EXISTS
            if "already exists" not in str(e):
                raise

    def create_schema(self, schema: str) -> None:
        self._swallow_exists(f'CREATE SCHEMA "{schema}"')

    def create_table(self, schema, table, column_types, non_null_columns=()):
        cols = ", ".join(
            f'"{c}" {self._sql_type(t)}' for c, t in column_types.items()
        )
        self._swallow_exists(
            f"CREATE TABLE {self._qualified(schema, table)} ({cols})"
        )

    def describe_table(self, schema, table):
        pairs = self._query_pairs(
            "SELECT c.COLUMNNAME, c.COLUMNDATATYPE FROM SYS.SYSCOLUMNS c "
            "JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID "
            "JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID "
            f"WHERE t.TABLENAME = '{table}' AND s.SCHEMANAME = '{schema}'"
        )

        def back(tp: str):
            tp = tp.upper()
            if tp.startswith("BIGINT"):
                return T.LongType()
            if tp.startswith("INTEGER"):
                return T.IntegerType()
            if tp.startswith("DOUBLE"):
                return T.DoubleType()
            if tp.startswith("TIMESTAMP"):
                return T.TimestampType()
            return T.StringType()

        return {n: back(tp) for n, tp in pairs}

    def add_column(self, schema, table, column, column_type):
        self._execute(
            f"ALTER TABLE {self._qualified(schema, table)} "
            f'ADD COLUMN "{column}" {self._sql_type(column_type)}'
        )


def test_jdbc_write_path_against_embedded_derby(spark, tmp_path):
    # no ClickHouse server exists in this environment, but Derby
    # (bundled with Spark for the Hive metastore) is an embeddable
    # JDBC target: drive the REAL machinery end-to-end — driver-side
    # DDL via java.sql.DriverManager, executor-parallel
    # df.write.jdbc append, and the two-column introspection query
    # path used by describe_table
    class DerbyWarehouse(ch.ClickHouseWarehouse):
        QUOTE = '"'
        PROBE_SQL = "VALUES 1"

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    wh = DerbyWarehouse(
        spark, jdbc_url=url, user="app", password="",
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
    )
    wh.connect()  # S14 probe
    wh._execute('CREATE TABLE "APP"."t" ("message_id" VARCHAR(64), "n" BIGINT)')
    df = spark.createDataFrame(
        [("m1", 1), ("m2", 2), ("m3", 3)], "message_id string, n long"
    ).repartition(2)  # >1 partition -> executor-parallel insert
    wh.insert_df("APP", "t", df)

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", '"APP"."t"')
        .load()
    )
    assert {(r.message_id, r.n) for r in back.collect()} == {
        ("m1", 1), ("m2", 2), ("m3", 3)
    }
    pairs = wh._query_pairs(
        'SELECT "message_id", TRIM(CAST("n" AS CHAR(20))) FROM "APP"."t" '
        'ORDER BY "message_id"'
    )
    assert pairs == [("m1", "1"), ("m2", "2"), ("m3", "3")]
    wh.close()


def test_schema_evolution_e2e_against_embedded_derby(spark, tmp_path):
    """The full store_table contract over REAL JDBC round trips:
    ensure_table_structure (create -> describe -> ALTER ADD COLUMN for
    a newly arriving column), value reconciliation against the table's
    actual schema, executor-parallel append, and the misfit quarantine
    insert — the largest CH-sink surface that previously ran only
    against in-memory fakes. Derby stands in for the server; the
    dialect renderers (ANSI CREATE/ALTER, SYS catalog introspection)
    are overridden while every piece of MACHINERY — the evolve loop,
    _execute/_query_pairs, reconcile_types, add_missing_columns, the
    jdbc writes — is the production code. The ClickHouse DDL STRINGS
    themselves are contract-tested in test_clickhouse_ddl_contract."""
    from clickstreamtoclickhouse_spark.app import store_misfits, store_table

    url = f"jdbc:derby:{tmp_path}/derbyevo;create=true"
    wh = _DerbyDialectWarehouse(
        spark, jdbc_url=url, user="app", password="",
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
    )
    wh.connect()

    # batch 1 creates the table
    b1 = spark.createDataFrame(
        [("m1", "2026-01-01T00:00:00Z", "2026-01-01T00:00:01Z", 5)],
        "message_id string, timestamp string, received_at string, n long",
    )
    store_table(wh, "ns", "tracks", b1)

    # batch 2: a NEW column (plan) triggers ALTER ADD COLUMN, and `n`
    # arrives as an uncastable string -> nulled in the clean append +
    # one diagnostic row quarantined into the misfits table
    b2 = spark.createDataFrame(
        [("m2", "2026-01-02T00:00:00Z", "2026-01-02T00:00:01Z",
          "not-a-number", "pro")],
        "message_id string, timestamp string, received_at string, "
        "n string, plan string",
    )
    store_misfits(wh, "ns", [store_table(wh, "ns", "tracks", b2)])

    def read_back(table):
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", f'"ns"."{table}"')
            .load()
        )

    rows = {r.message_id: (r.n, r.plan) for r in read_back("tracks").collect()}
    assert rows == {"m1": (5, None), "m2": (None, "pro")}
    mis = read_back("misfits").collect()
    assert len(mis) == 1
    m = mis[0]
    assert (m.message_id, m.table_name, m.column_name, m.column_value) == (
        "m2", "tracks", "n", "not-a-number"
    )
    wh.close()


def test_pipeline_event_fanout_e2e_against_embedded_derby(spark, tmp_path):
    """The per-event dynamic-table fan-out (send_to_warehouse.py:
    214-232) driven over a REAL JDBC connection — the last
    reference-pipeline semantic that only ran against in-memory
    fakes: each distinct normalized track event name gets its OWN
    table (DDL issued at first sight), a name colliding with a
    default table gets the esc_ prefix, the common `tracks` table
    keeps base columns only (no properties_*), and a cross-batch type
    conflict inside a per-event table quarantines into a REAL misfits
    table."""
    from clickstreamtoclickhouse_spark.app import store_result

    url = f"jdbc:derby:{tmp_path}/derbyfan;create=true"
    wh = _DerbyDialectWarehouse(
        spark, jdbc_url=url, user="app", password="",
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
    )
    wh.connect()

    base = {
        "anonymousId": "a-1", "channel": "mobile", "userId": "u-1",
        "writeKey": "wk", "receivedAt": "2026-01-02T03:04:06Z",
        "timestamp": "2026-01-02T03:04:05Z",
    }
    batch1 = [
        {**base, "messageId": "m-t1", "type": "track",
         "event": "Checkout Started", "properties": {"qty": 5}},
        # normalized name collides with the default `users` table ->
        # the esc_ escape prefix (send_to_warehouse.py:219-223)
        {**base, "messageId": "m-t2", "type": "track", "event": "users",
         "properties": {"qty": 1}},
        {**base, "messageId": "m-i1", "type": "identify",
         "traits": {"plan": "pro"}},
    ]
    # batch 2: qty arrives as an uncastable STRING against the BIGINT
    # column batch 1 created inside checkout_started -> nulled in the
    # clean append + quarantined
    batch2 = [
        {**base, "messageId": "m-t3", "type": "track",
         "event": "Checkout Started", "properties": {"qty": "oops"}},
    ]
    d1, d2 = tmp_path / "fan1", tmp_path / "fan2"
    d1.mkdir(), d2.mkdir()
    _write_ndjson(d1, "b1.json", batch1)
    _write_ndjson(d2, "b2.json", batch2)

    pipe = EventPipeline(spark, namespace="fanNs")
    for d in (d1, d2):
        res = pipe.ingest_json_dir(str(d))
        try:
            store_result(res, [wh], pipe.namespace)
        finally:
            res.unpersist()

    def read_back(table):
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", f'"fan_ns"."{table}"')
            .load()
        )

    # per-event dynamic tables, with properties retained
    cs = {r.message_id: r.properties_qty for r in read_back(
        "checkout_started").collect()}
    assert cs == {"m-t1": 5, "m-t3": None}
    esc = read_back("esc_users").collect()
    assert [r.message_id for r in esc] == ["m-t2"]
    # the common tracks table holds ALL track rows, no properties_*
    tracks = read_back("tracks")
    assert sorted(r.message_id for r in tracks.collect()) == [
        "m-t1", "m-t2", "m-t3"
    ]
    assert not [c for c in tracks.columns if c.startswith("properties_")]
    # identities + derived users landed too
    assert [r.message_id for r in read_back("identities").collect()] == [
        "m-i1"
    ]
    users = read_back("users").collect()
    assert len(users) == 1 and users[0].user_id == "u-1"
    # the type conflict quarantined into a REAL misfits table
    mis = read_back("misfits").collect()
    assert len(mis) == 1
    assert (
        mis[0].message_id, mis[0].table_name,
        mis[0].column_name, mis[0].column_value,
    ) == ("m-t3", "checkout_started", "properties_qty", "oops")
    wh.close()


def test_users_upsert_readback_against_embedded_derby(spark, tmp_path):
    """The users/RMT(ver) semantic over a REAL JDBC connection: the
    CH users table is append-only on insert (ReplacingMergeTree defers
    dedup to merge/read time — /root/reference/seghouse/warehouse/
    clickhouse.py users DDL), so the sink inserts EVERY version and
    the read side collapses to the latest via latest_version_view.
    Derby stands in for the server: two versions of u1 plus one of u2
    go through the executor-parallel jdbc append, the raw read-back
    must hold all three physical rows (append-only contract), and the
    version view must keep exactly (u1, ver 2) and (u2, ver 1)."""
    from clickstreamtoclickhouse_spark.operators.dedup import (
        latest_version_view,
    )

    class DerbyWarehouse(ch.ClickHouseWarehouse):
        QUOTE = '"'
        PROBE_SQL = "VALUES 1"

    url = f"jdbc:derby:{tmp_path}/derbyusers;create=true"
    wh = DerbyWarehouse(
        spark, jdbc_url=url, user="app", password="",
        driver="org.apache.derby.iapi.jdbc.AutoloadedDriver",
    )
    wh.connect()
    wh._execute(
        'CREATE TABLE "APP"."users" ("user_id" VARCHAR(64), "ver" BIGINT, '
        '"message_id" VARCHAR(64), "plan" VARCHAR(64))'
    )
    schema = "user_id string, ver long, message_id string, plan string"
    wh.insert_df(
        "APP", "users",
        spark.createDataFrame([("u1", 1, "m1", "free")], schema),
    )
    wh.insert_df(
        "APP", "users",
        spark.createDataFrame(
            [("u1", 2, "m2", "pro"), ("u2", 1, "m3", "free")], schema
        ).repartition(2),
    )

    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", '"APP"."users"')
        .load()
    )
    # append-only physical contract: every inserted version persists
    assert back.count() == 3
    latest = {
        r.user_id: (r.ver, r.plan)
        for r in latest_version_view(back).collect()
    }
    assert latest == {"u1": (2, "pro"), "u2": (1, "free")}
    wh.close()


def test_event_table_cardinality_guard(spark):
    # a pathological high-cardinality `event` column must not OOM the
    # driver or fan out unbounded tables: the distinct collect is
    # LIMIT-bounded and overflow stays in the common tracks table
    rows = [("track", f"m{i}", "2026-01-01T00:00:00Z", f"evt_{i % 4}") for i in range(40)]
    df = spark.createDataFrame(
        rows, "type string, message_id string, timestamp string, event string"
    )
    pipe = EventPipeline(spark, max_event_tables=2)
    with pytest.warns(UserWarning, match="distinct event names"):
        res = pipe.ingest_df(df)
    assert len(res.event_tables) == 2
    assert res.tables["tracks"].count() == 40  # nothing lost
