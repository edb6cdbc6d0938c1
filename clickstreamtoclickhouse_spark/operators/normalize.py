"""Column transforms T5-T12 (SURVEY.md §2.3).

All pure Column expressions — JVM-side, codegen'd, zero Python per
row. Cites into /root/reference per function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tables import TIMESTAMP_FIELDS


def parse_timestamps(df: DataFrame, fields: tuple[str, ...] = TIMESTAMP_FIELDS) -> DataFrame:
    """T5: parse well-known timestamp fields when present
    (send_to_warehouse.py:44-46; fields from event_fields.py:1-7).
    to_timestamp handles ISO-8601 with or without 'Z'."""
    for f in fields:
        if f in df.columns:
            df = df.withColumn(f, F.to_timestamp(F.col(f)))
    return df


def decamelize_col(c: Column) -> Column:
    """Column-level pyhumps-style decamelize (value, not schema name)."""
    c = F.regexp_replace(c, r"([A-Z]+)([A-Z][a-z])", r"$1_$2")
    c = F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1_$2")
    return F.lower(c)


def normalize_event_names(df: DataFrame) -> DataFrame:
    """T6: event name normalization (send_to_warehouse.py:48-51):
    original kept in original_event; event = decamelize(
    event.replace(' ','').replace('&','and')).lower()."""
    if "event" not in df.columns:
        return df
    cleaned = F.regexp_replace(F.regexp_replace(F.col("event"), " ", ""), "&", "and")
    return df.withColumn("original_event", F.col("event")).withColumn(
        "event", decamelize_col(cleaned)
    )


def add_extra_timestamps(df: DataFrame, extra: dict[str, str]) -> DataFrame:
    """T7: per-timezone wall-clock copies of ``timestamp``
    (send_to_warehouse.py:63-78): tz-convert then tz-strip — i.e. the
    naive local time in that zone, which is exactly
    from_utc_timestamp. Raises if the column already exists (reference
    raises ValueError, :69-73)."""
    if "timestamp" not in df.columns:
        return df
    for name, tz in extra.items():
        if name in df.columns:
            raise ValueError(f"{name} already exists in the dataframe")
        df = df.withColumn(name, F.from_utc_timestamp(F.col("timestamp"), tz))
    return df


def add_unix_millis(df: DataFrame) -> DataFrame:
    """T8: unix_timestamp_in_millis (send_to_warehouse.py:80).
    Reference computes int64-ns / 1e6 as a FLOAT then re-coerces to
    Int64 at insert (truncation); we emit true Int64 directly
    (deviation log, SURVEY §7.3) — integer `div` keeps precision."""
    if "timestamp" not in df.columns:
        return df
    return df.withColumn(
        "unix_timestamp_in_millis",
        (F.unix_micros(F.col("timestamp")) / F.lit(1000)).cast("long"),
    )


def add_users_ver(df: DataFrame) -> DataFrame:
    """T12: users.ver = timestamp as int64 NANOSECONDS
    (send_to_warehouse.py:163-165). Spark timestamps are micros; ×1000
    preserves the reference's magnitude (ns fidelity documented)."""
    if "timestamp" not in df.columns:
        return df
    return df.withColumn("ver", F.unix_micros(F.col("timestamp")) * F.lit(1000))


def booleans_to_int(df: DataFrame) -> DataFrame:
    """T9: fillna(False) then int cast for boolean columns pre-insert
    (dataframe_util.py:85-89; ClickHouse stores Bool as UInt8,
    clickhouse.py:29)."""
    for f in df.schema.fields:
        if f.dataType.typeName() == "boolean":
            df = df.withColumn(
                f.name, F.coalesce(F.col(f.name), F.lit(False)).cast("int")
            )
    return df
