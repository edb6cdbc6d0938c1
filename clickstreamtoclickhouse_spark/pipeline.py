"""End-to-end ingest pipeline: the Spark-native equivalent of the
reference's SendToWarehouseJob (seghouse/jobs/send_to_warehouse.py:93-139).

Flow (reference cites per stage):
  read NDJSON dir (parquet: flat)  :104-131, :322-355   -> sources.readers
  flatten + decamelize + clean     :338-347, json_util   -> sources.flatten
  drop skip_fields                 :123-124              -> operators.project
  split into 6 event types         :357-368              -> operators.project
  parse timestamps                 :44-46                -> operators.normalize
  normalize event names            :48-51                -> operators.normalize
  extra timezone timestamps        :63-78                -> operators.normalize
  unix millis                      :80                   -> operators.normalize
  users derivation (ver)           :161-189              -> operators.normalize/dedup
  per-event table fan-out          :214-232              -> here
  tracks column projection         :193-197              -> operators.project

Deviation log (SURVEY.md §3.3): groups/aliases are routed to their own
tables (the reference inserts them into `identities` —
send_to_warehouse.py:280,296 — a bug we deliberately fix);
unix_timestamp_in_millis is a true Int64.

Scale design: ONE distributed read; the flattened batch is cached
once, before the corrupt-line quarantine and the 6-way type split
(each is a predicate over the cached scan, not a re-read); all transforms are Column expressions; the only
driver-side collect is the row census of every destination table
(``_census``), bounded by the number of distinct event NAMES (A1,
send_to_warehouse.py:215), not rows. Batch and stream ``send`` share
one path: ``ingest_ndjson`` -> ``readers.parse_events`` -> ``_process``.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .naming import decamelize
from .operators import normalize, project
from .sources import readers
from .sources.readers import CORRUPT_COL
from .tables import (
    DEFAULT_TABLES,
    EVENT_TYPE_TO_TABLE,
    EVENT_TYPES,
    TRACKS_COLUMN_PREFIXES,
    TRACKS_STRUCTURE,
)


@dataclass
class IngestResult:
    """All destination tables for one ingested batch; ``rows`` counts
    each table's rows (the sink skips the empty ones)."""

    tables: dict[str, DataFrame]
    event_tables: dict[str, DataFrame] = field(default_factory=dict)
    corrupt: DataFrame | None = None
    cached: list[DataFrame] = field(default_factory=list)
    rows: dict[str, int] = field(default_factory=dict)

    def all_tables(self) -> dict[str, DataFrame]:
        return {**self.tables, **self.event_tables}

    def unpersist(self) -> None:
        """Release the batch's cached scans. Call after the sink has
        consumed every table — in the streaming foreachBatch path each
        micro-batch would otherwise leak a cached DataFrame and churn
        executor storage memory on long-running streams."""
        for df in self.cached:
            df.unpersist()
        self.cached = []


class EventPipeline:
    """Configurable ingest pipeline (config fields mirror AppConf,
    seghouse/config/configuration.py:22-29)."""

    def __init__(
        self,
        spark: SparkSession,
        namespace: str = "events",
        skip_fields: tuple[str, ...] = (),
        extra_timestamps: dict[str, str] | None = None,
        max_event_tables: int = 1000,
    ) -> None:
        self.spark = spark
        # namespace decamelized like the reference (send_to_warehouse.py:97)
        self.namespace = decamelize(namespace)
        self.skip_fields = skip_fields
        self.extra_timestamps = extra_timestamps or {}
        self.max_event_tables = max_event_tables

    # -- entry points --------------------------------------------------

    def ingest_json_dir(self, path: str) -> IngestResult:
        return self.ingest_ndjson(readers.read_ndjson(self.spark, path))

    def ingest_ndjson(self, raw: DataFrame) -> IngestResult:
        """Parse a raw NDJSON frame (a batch read, or one micro-batch of
        the landing stream) and run the pipeline over it."""
        return self._process(readers.parse_events(raw))

    def ingest_df(self, df: DataFrame) -> IngestResult:
        """Run the pipeline over already-flat columns, e.g. a parquet
        batch (S4: passthrough, no flatten — send_to_warehouse.py:325-328)."""
        return self._process(df)

    # -- pipeline ------------------------------------------------------

    def _process(self, df: DataFrame) -> IngestResult:
        df = project.drop_skip_fields(df, self.skip_fields)
        df = normalize.parse_timestamps(df)
        df = normalize.add_unix_millis(df)
        df = normalize.add_extra_timestamps(df, self.extra_timestamps)
        # one cache feeds the quarantine, the 6-way split and the census
        # (Spark refuses a raw JSON scan that reads only the corrupt
        # column; the cached batch may)
        cached = df.cache()
        if CORRUPT_COL in df.columns:
            corrupt = cached.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
            df = cached.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
        else:
            corrupt = self.spark.createDataFrame([], f"{CORRUPT_COL} string")
            df = cached

        tables = {
            EVENT_TYPE_TO_TABLE[t]: split for t, split in project.split_by_type(df).items()
        }
        tracks_all = normalize.normalize_event_names(tables["tracks"])
        # common tracks table keeps base + configured prefixes only
        # (properties_* excluded; send_to_warehouse.py:193-197)
        tables["tracks"] = project.select_columns(
            tracks_all,
            keep=tuple(TRACKS_STRUCTURE),
            prefixes=TRACKS_COLUMN_PREFIXES,
        )

        # users = identities + ver (int64 ns), user_id non-null
        # (send_to_warehouse.py:161-189); latest-per-user is a READ
        # view (operators.dedup.latest_version_view), not applied at
        # ingest — parity with ReplacingMergeTree eventual semantics.
        users = normalize.add_users_ver(tables["identities"])
        if "user_id" in users.columns:
            users = users.filter(users["user_id"].isNotNull())
        tables["users"] = users

        rows, names = self._census(df)
        # A1: each per-event table is a filter over the cached batch
        # (send_to_warehouse.py:214-232).
        event_tables: dict[str, DataFrame] = {}
        for name, n in names.items():
            # name-collision escape prefix (send_to_warehouse.py:219-223)
            table = f"esc_{name}" if name in DEFAULT_TABLES else name
            event_tables[table] = project.filter_event(tracks_all, name)
            rows[table] = n

        return IngestResult(
            tables=tables, event_tables=event_tables, corrupt=corrupt,
            cached=[cached], rows=rows,
        )

    def _census(self, df: DataFrame) -> tuple[dict[str, int], dict[str, int]]:
        """Rows per default table and per normalized track event name:
        one rollup over (type, name), with a subtotal per Segment type
        (level 1) and a row per non-NULL name (level 0). Junk types and
        NULL names are dropped before the limit, so neither can take one
        of the ``max_event_tables`` + 1 name slots and mask the overflow
        warning. Ids leaking into names can neither OOM the driver nor
        fan out unbounded tables; overflow rows stay in `tracks`."""
        rows = {table: 0 for table in (*EVENT_TYPE_TO_TABLE.values(), "users")}
        if "type" not in df.columns:
            return rows, {}
        cap = self.max_event_tables
        typ = F.col("type")
        if "event" in df.columns:
            df = normalize.normalize_event_names(df)
            name = F.when(typ == "track", F.col("event"))
        else:
            name = F.lit(None).cast("string")
        # users: identify rows with a user_id (all without the column)
        uid = F.col("user_id") if "user_id" in df.columns else F.lit(1)
        census = (
            df.where(typ.isin(*EVENT_TYPES))
            .rollup(typ.alias("type"), name.alias("name"))
            .agg(
                F.grouping_id().alias("level"),
                F.count("*").alias("n"),
                F.count(uid).alias("n_users"),
            )
            .where((F.col("level") == 1) | F.col("name").isNotNull())
            .orderBy(F.col("level").desc(), "name")
            .limit(len(EVENT_TYPES) + cap + 1)
            .collect()
        )
        names: dict[str, int] = {}
        for r in census:
            if r["level"] == 1:
                rows[EVENT_TYPE_TO_TABLE[r["type"]]] = r["n"]
                if r["type"] == "identify":
                    rows["users"] = r["n_users"]
            else:
                names[r["name"]] = r["n"]
        if len(names) > cap:
            warnings.warn(
                f"more than {cap} distinct event names; creating "
                f"per-event tables for the first {cap} only (rest "
                "remain queryable in `tracks`)",
                stacklevel=3,
            )
            names = dict(list(names.items())[:cap])
        return rows, names


__all__ = ["EventPipeline", "IngestResult", "EVENT_TYPE_TO_TABLE"]
