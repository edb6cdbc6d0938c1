"""MERGE INTO semantics composed from DataFrame operators.

The reference's users table gets upsert behavior from
ReplacingMergeTree(ver) — dedup deferred to the engine
(/root/reference/seghouse/warehouse/clickhouse.py:112-118). The
lakehouse-native counterpart is transactional MERGE (Delta
`MERGE INTO` / Iceberg `MERGE`); this module implements the same row
semantics as plain DataFrame algebra, and ``TxLogTable.merge_upsert``
(sinks/txlog.py) commits its result atomically.

Semantics (whole-row):
  - matched (key in both)          -> the updates row replaces base
  - not matched (key only updates) -> insert
  - delete_col set and true        -> matched base row removed,
                                      nothing inserted

Scale: one left-anti join of base against the update keys + one
union — the anti-join shuffles on the merge key; the updates side is
typically small enough to broadcast. This is exactly the
copy-on-write MERGE plan Delta/Iceberg run under the hood.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    version_col: str | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """Apply `updates` to `base` with MERGE semantics (see module
    docstring). `version_col`: if updates can carry several rows per
    key, keep only the highest-version row first (latest-wins, the
    users-table contract). `delete_col`: boolean column on updates
    marking tombstones. Idempotent: re-applying the same batch leaves
    the result unchanged."""
    if not keys:
        raise ValueError("merge_upsert needs at least one key column")
    upd = updates
    if version_col is not None:
        upd = _latest_per_keys(upd, keys, version_col)
    if delete_col is not None:
        tombstones = upd.filter(F.col(delete_col)).select(*keys)
        upd = upd.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
        touched = upd.select(*keys).union(tombstones).distinct()
    else:
        touched = upd.select(*keys).distinct()
    survivors = base.join(touched, list(keys), "left_anti")
    return survivors.unionByName(upd.select(*base.columns))


def _latest_per_keys(
    df: DataFrame, keys: Sequence[str], version_col: str
) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(F.desc(version_col))
    return (
        df.withColumn("_mrn", F.row_number().over(w))
        .filter(F.col("_mrn") == 1)
        .drop("_mrn")
    )
