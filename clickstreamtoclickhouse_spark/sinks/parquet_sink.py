"""Parquet lakehouse sink — the engine's primary at-rest format.

Reproduces the reference's ClickHouse table semantics (SURVEY.md §2.9)
on plain parquet. Every table is a ``sinks/txlog.TxLogTable``: each
insert and each compaction is one atomic commit, and readers take the
file list and the schema from the commit log.

- Q3 date partitioning (PARTITION BY toDate(timestamp),
  clickhouse.py:86)  -> ``event_date=<d>/`` hive directories
  (the table's partition column)
- Q4 sort key (ORDER BY (timestamp, message_id), clickhouse.py:87)
  -> sortWithinPartitions(event_date, timestamp, message_id) before
  write (parquet min/max row-group stats then give the same
  scan-skipping a ClickHouse sort key does). The partition column
  leads: a partitioned write whose input is not already ordered by it
  re-sorts by event_date alone and loses the sort key.
- S10 additive schema evolution (clickhouse.py:185-191)
  -> each commit records the previous schema plus the new columns;
  older files read the new columns as null
- Q1/Q2 ReplacingMergeTree read semantics -> read views in
  operators.dedup applied by read_view(); compact() makes them
  at-rest in one rewrite commit (the analog of ClickHouse
  background merges)

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
from .txlog import TxLogTable
from .warehouse import Warehouse

PARTITION_COL = "event_date"


def _clustered(df: DataFrame) -> DataFrame:
    """Add the date partition column (Q3) and order each task's rows by
    (event_date, timestamp, message_id) so every written date file
    keeps the Q4 sort key. Tables without a timestamp pass through."""
    if "timestamp" not in df.columns:
        return df
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

    def _table(self, schema: str, table: str) -> TxLogTable:
        # a dir of parquet files without a commit log raises on use
        return TxLogTable(os.path.join(self.root, schema, table), partition_col=PARTITION_COL)

    # -- DDL surface ---------------------------------------------------
    def create_schema(self, schema: str) -> None:
        os.makedirs(os.path.join(self.root, schema), exist_ok=True)

    def create_table(self, schema, table, column_types, non_null_columns=()) -> None:
        # parquet tables materialize on first insert; nothing to do
        self.create_schema(schema)

    def describe_table(self, schema: str, table: str) -> dict[str, T.DataType]:
        """The committed schema; {} ONLY when the table has no commit
        (an empty dict makes the evolution path re-ADD every column)."""
        committed = self._table(schema, table).schema()
        if committed is None:
            return {}
        return {f.name: f.dataType for f in committed.fields if f.name != PARTITION_COL}

    def add_column(self, schema, table, column, column_type) -> None:
        # additive evolution is free: the next append carries the new
        # column into the committed schema; older files read it as null
        pass

    # -- data path -----------------------------------------------------
    def insert_df(self, schema: str, table: str, df: DataFrame) -> None:
        """S11 bulk insert: one append commit. Adds the date partition
        column (Q3) and clusters rows by the sort key (Q4)."""
        self._table(schema, table).append(_clustered(df))

    # -- read side -----------------------------------------------------
    def read_table(self, schema: str, table: str) -> DataFrame:
        """Raw at-rest rows (duplicates possible — parity with
        ClickHouse before background merges)."""
        return self._table(schema, table).read(self.spark)

    def read_view(self, schema: str, table: str) -> DataFrame:
        """Q1/Q2 read semantics: what a ClickHouse SELECT ... FINAL
        would return."""
        return _view(table, self.read_table(schema, table))

    def compact(self, schema: str, table: str) -> None:
        """At-rest dedup — the analog of ClickHouse background merges
        (clickhouse.py:85,116): one ``rewrite`` commit replaces the
        table's rows with their read view, then ``vacuum`` deletes the
        superseded files. The view is built from the snapshot the
        commit replaces, so an insert that lands meanwhile is kept. A
        crash before the commit leaves the table as it was."""
        t = self._table(schema, table)

        def compacted(rows: DataFrame | None) -> DataFrame:
            if rows is None:
                raise ValueError(f"{t.path}: no committed rows to compact")
            return _clustered(_view(table, rows).drop(PARTITION_COL))

        t.rewrite(self.spark, compacted)
        t.vacuum()


def _view(table: str, df: DataFrame) -> DataFrame:
    if table == "users" and "ver" in df.columns:
        return dedup.latest_version_view(df)
    if "timestamp" in df.columns and "message_id" in df.columns:
        return dedup.dedup_by_sort_key(df)
    return df
