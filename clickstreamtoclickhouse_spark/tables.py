"""Logical type system and fixed table structures.

Reference parity (cites into /root/reference):
- logical type enum: seghouse/config/data_type.py:5-26. Only the
  subset {STRING, FLOAT64, INT64, BOOLEAN, DATETIME} is ever produced
  by inference (seghouse/util/dataframe_util.py:21-38); the wide
  int/uint family exists for schema read-back only.
- fixed base schemas + table names:
  seghouse/config/default_table_structure.py:3-62.
- well-known timestamp fields: seghouse/config/event_fields.py:1-7.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import types as T


class DataType(Enum):
    """Engine-internal logical types (data_type.py:5-26)."""

    UINT8 = "UINT8"
    UINT16 = "UINT16"
    UINT32 = "UINT32"
    UINT64 = "UINT64"
    UINT256 = "UINT256"
    INT8 = "INT8"
    INT16 = "INT16"
    INT32 = "INT32"
    INT64 = "INT64"
    INT128 = "INT128"
    INT256 = "INT256"
    FLOAT32 = "FLOAT32"
    FLOAT64 = "FLOAT64"
    BOOLEAN = "BOOLEAN"
    STRING = "STRING"
    UUID = "UUID"
    DATE = "DATE"
    DATETIME = "DATETIME"
    ARRAY = "ARRAY"


# logical -> Spark physical (produced subset first; wide family maps to
# the narrowest Spark type that can hold it, DecimalType(38,0) for 128+)
DT_TO_SPARK: dict[DataType, T.DataType] = {
    DataType.STRING: T.StringType(),
    DataType.UUID: T.StringType(),
    DataType.FLOAT32: T.FloatType(),
    DataType.FLOAT64: T.DoubleType(),
    DataType.BOOLEAN: T.BooleanType(),
    DataType.DATE: T.DateType(),
    DataType.DATETIME: T.TimestampType(),
    DataType.UINT8: T.ShortType(),
    DataType.UINT16: T.IntegerType(),
    DataType.UINT32: T.LongType(),
    DataType.UINT64: T.DecimalType(20, 0),
    DataType.UINT256: T.DecimalType(38, 0),
    DataType.INT8: T.ByteType(),
    DataType.INT16: T.ShortType(),
    DataType.INT32: T.IntegerType(),
    DataType.INT64: T.LongType(),
    DataType.INT128: T.DecimalType(38, 0),
    DataType.INT256: T.DecimalType(38, 0),
}

# Well-known timestamp fields (event_fields.py:1-7): string columns
# with these names are parsed to timestamps (send_to_warehouse.py:44-46).
TIMESTAMP_FIELDS = ("received_at", "sent_at", "timestamp")

# Base schema shared by every event table
# (default_table_structure.py:3-14).
DEFAULT_STRUCTURE: dict[str, DataType] = {
    "message_id": DataType.STRING,
    "anonymous_id": DataType.STRING,
    "received_at": DataType.DATETIME,
    "timestamp": DataType.DATETIME,
    "unix_timestamp_in_millis": DataType.INT64,
    "ip": DataType.STRING,
    "channel": DataType.STRING,
    "user_id": DataType.STRING,
    "write_key": DataType.STRING,
    "type": DataType.STRING,
}

# tracks adds the normalized + original event name
# (default_table_structure.py:16-21).
TRACKS_STRUCTURE: dict[str, DataType] = {
    **DEFAULT_STRUCTURE,
    "original_event": DataType.STRING,
    "event": DataType.STRING,
}

# Column prefixes kept in the common tracks table
# (default_table_structure.py:23-28): properties_* is excluded there
# and kept only in per-event tables (send_to_warehouse.py:193-197).
TRACKS_COLUMN_PREFIXES = ("context_", "traits_", "geoip_", "e_")

# Well-known table names (default_table_structure.py:44-62).
TABLE_TRACKS = "tracks"
TABLE_SCREENS = "screens"
TABLE_IDENTITIES = "identities"
TABLE_PAGES = "pages"
TABLE_USERS = "users"
TABLE_ALIASES = "aliases"
TABLE_GROUPS = "groups"
TABLE_MISFITS = "misfits"

DEFAULT_TABLES = (
    TABLE_TRACKS, TABLE_SCREENS, TABLE_IDENTITIES, TABLE_PAGES,
    TABLE_USERS, TABLE_ALIASES, TABLE_GROUPS, TABLE_MISFITS,
)

# Event types -> destination tables (send_to_warehouse.py:357-368 and
# store() routing :133-139; groups/aliases intentionally routed to
# their OWN tables here — the reference inserts them into `identities`
# (:280,:296), documented as a bug in SURVEY.md §3.3 deviation log).
EVENT_TYPES = ("track", "identify", "page", "screen", "group", "alias")
EVENT_TYPE_TO_TABLE = {
    "track": TABLE_TRACKS,
    "identify": TABLE_IDENTITIES,
    "page": TABLE_PAGES,
    "screen": TABLE_SCREENS,
    "group": TABLE_GROUPS,
    "alias": TABLE_ALIASES,
}

# Non-null contract (send_to_warehouse.py:101-102,180;
# clickhouse.py:125-134).
NON_NULL_COLUMNS = ("received_at", "timestamp", "message_id")
USERS_EXTRA_NON_NULL = ("user_id", "ver")

MISFITS_STRUCTURE: dict[str, DataType] = {
    "message_id": DataType.STRING,
    "table_name": DataType.STRING,
    "column_name": DataType.STRING,
    "column_value": DataType.STRING,
    "expected_data_type": DataType.STRING,
    "actual_data_type": DataType.STRING,
}


def spark_schema(structure: dict[str, DataType], non_null: tuple[str, ...] = ()) -> T.StructType:
    """Build a Spark StructType from a logical structure dict."""
    return T.StructType(
        [
            T.StructField(name, DT_TO_SPARK[dt], nullable=name not in non_null)
            for name, dt in structure.items()
        ]
    )
