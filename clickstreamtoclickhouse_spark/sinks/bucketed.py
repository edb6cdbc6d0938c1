"""Bucketed-table writes for co-located, shuffle-free joins (the
Spark storage-layout lever; SURVEY.md §2.9 scale notes).

The reference's ClickHouse tables declare a storage sort key
(ORDER BY (timestamp, message_id) — seghouse/warehouse/clickhouse.py:87)
so merges and range scans avoid re-sorting. Spark's storage-layout
analog for JOIN co-location is bucketing: ``bucketBy(k, join_key)``
at write time hash-partitions files by the join key and records the
layout in the catalog. Two tables bucketed on the same key with the
same bucket count then join with ZERO Exchange operators — the
shuffle is paid once at write and amortized over every subsequent
join/aggregation on that key.

At 100 TB this is the difference between re-shuffling a fact table on
every query and a per-bucket map-side merge join: bucket the big
tables on their primary join key (user_id for events, o_custkey for
orders) as part of ingest, and every downstream join on that key is
exchange-free. ``sortBy`` additionally persists in-bucket order, so
the merge join also skips its Sort (the exact analog of the
ClickHouse sort key).

Pinned by tests/test_plan_quality.py::test_bucketed_join_is_shuffle_free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    file_format: str = "parquet",
) -> None:
    """Persist ``df`` as a catalog table bucketed by ``bucket_cols``.

    ``num_buckets`` sizes per-bucket files: pick so one bucket of the
    table fits an executor's scan partition budget (at 100 TB and
    ~256 MB targets that's thousands of buckets; bucket count must
    match across tables that join co-located)."""
    writer = (
        df.write.mode(mode).format(file_format).bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — the scan reports the bucket layout to the
    planner, which is what lets it elide the join exchange."""
    return spark.table(table)

