"""Parquet lakehouse sink — the engine's primary at-rest format.

Reproduces the reference's ClickHouse table semantics (SURVEY.md §2.9)
on plain parquet:

- Q3 date partitioning (PARTITION BY toDate(timestamp),
  clickhouse.py:86)  -> write.partitionBy("event_date")
- Q4 sort key (ORDER BY (timestamp, message_id), clickhouse.py:87)
  -> sortWithinPartitions(event_date, timestamp, message_id) before
  write (parquet min/max row-group stats then give the same
  scan-skipping a ClickHouse sort key does). The partition column
  leads: a partitioned write whose input is not already ordered by it
  re-sorts by event_date alone and loses the sort key.
- S10 additive schema evolution (clickhouse.py:185-191)
  -> parquet mergeSchema on read; appends may add columns freely
- Q1/Q2 ReplacingMergeTree read semantics -> read views in
  operators.dedup applied by read_view(); compact() makes them
  at-rest (the analog of ClickHouse background merges)

Scale: each append writes date partitions; readers prune by
event_date; sort-within-partition keeps row groups clustered so
timestamp-range scans skip. No global sort, no single-writer
bottleneck.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import dedup
from .warehouse import Warehouse

PARTITION_COL = "event_date"


def _clustered(df: DataFrame) -> DataFrame:
    """Add the date partition column (Q3) and order each task's rows by
    (event_date, timestamp, message_id) so every written date file
    keeps the Q4 sort key."""
    out = df.withColumn(PARTITION_COL, F.to_date("timestamp"))
    sort_cols = [c for c in (PARTITION_COL, "timestamp", "message_id") if c in out.columns]
    return out.sortWithinPartitions(*sort_cols)


class ParquetWarehouse(Warehouse):
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root

    # -- connection interface (S14): filesystem sinks are stateless --
    def connect(self) -> None:  # probe = root must be creatable
        os.makedirs(self.root, exist_ok=True)

    def close(self) -> None:
        pass

    def _path(self, schema: str, table: str) -> str:
        return os.path.join(self.root, schema, table)

    # -- DDL surface ---------------------------------------------------
    def create_schema(self, schema: str) -> None:
        os.makedirs(os.path.join(self.root, schema), exist_ok=True)

    def create_table(self, schema, table, column_types, non_null_columns=()) -> None:
        # parquet tables materialize on first insert; nothing to do
        self.create_schema(schema)

    def describe_table(self, schema: str, table: str) -> dict[str, T.DataType]:
        from ..util import try_read_parquet

        path = self._path(schema, table)
        # {} ONLY when the table doesn't exist yet; real read failures
        # propagate (an empty dict here would make the evolution path
        # re-ADD every column as new)
        df = try_read_parquet(self.spark, path, mergeSchema="true")
        if df is None:
            return {}
        return {f.name: f.dataType for f in df.schema.fields if f.name != PARTITION_COL}

    def add_column(self, schema, table, column, column_type) -> None:
        # additive evolution is free: the next append carries the new
        # column; mergeSchema surfaces it on read with nulls for old files
        pass

    # -- data path -----------------------------------------------------
    def insert_df(self, schema: str, table: str, df: DataFrame) -> None:
        """S11 bulk insert. Adds the date partition column (Q3) and
        clusters rows by the sort key (Q4) before writing."""
        if "timestamp" in df.columns:
            (
                _clustered(df).write.mode("append")
                .partitionBy(PARTITION_COL)
                .parquet(self._path(schema, table))
            )
        else:
            df.write.mode("append").parquet(self._path(schema, table))

    # -- read side -----------------------------------------------------
    def read_table(self, schema: str, table: str) -> DataFrame:
        """Raw at-rest rows (duplicates possible — parity with
        ClickHouse before background merges)."""
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(self._path(schema, table))
        )

    def read_view(self, schema: str, table: str) -> DataFrame:
        """Q1/Q2 read semantics: what a ClickHouse SELECT ... FINAL
        would return."""
        df = self.read_table(schema, table)
        if table == "users" and "ver" in df.columns:
            return dedup.latest_version_view(df)
        if "timestamp" in df.columns and "message_id" in df.columns:
            return dedup.dedup_by_sort_key(df)
        return df

    def compact(self, schema: str, table: str) -> None:
        """At-rest dedup — the analog of ClickHouse background merges
        (clickhouse.py:85,116). Rewrites the table as its read view."""
        view = self.read_view(schema, table).drop(PARTITION_COL)
        path = self._path(schema, table)
        tmp = path + "__compact"
        if "timestamp" in view.columns:
            _clustered(view).write.mode("overwrite").partitionBy(PARTITION_COL).parquet(tmp)
        else:
            view.write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(path)
        shutil.move(tmp, path)
