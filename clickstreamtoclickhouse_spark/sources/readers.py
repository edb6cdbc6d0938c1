"""Event-file sources (S1-S4 in SURVEY.md §2.1).

Reference behavior (cites into /root/reference):
- S1/S2: `aws s3 cp --recursive` to a temp dir then a sequential
  per-file loop (seghouse/util/aws_wrapper.py:10-26,
  seghouse/jobs/send_to_warehouse.py:104-131). Spark-native: pass the
  directory/glob straight to ``spark.read`` — the S3A connector reads
  s3a:// URIs directly and splits work across executors; no download
  step, no sequential loop.
- S3: NDJSON (.json / .json.gz) with per-line ``json.loads``
  (send_to_warehouse.py:322-355). Spark-native: ``spark.read.json``
  (gzip auto-decoded, distributed line parsing, union schema
  inference — strictly stronger than the reference's
  first-non-null-value inference, dataframe_util.py:11-40).
- S4: parquet passthrough (send_to_warehouse.py:325-328).

Malformed lines: the reference would raise on the first bad line
(json.loads). We read PERMISSIVE with a corrupt-record column and
expose the bad lines as a side DataFrame — same spirit as the misfits
quarantine channel (dataframe_util.py:148-185), applied one stage
earlier. Documented deviation: reference parity would be FAILFAST.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .flatten import flatten

CORRUPT_COL = "_corrupt_record"
#: NDJSON parse mode of the batch read and the landing stream
NDJSON_OPTIONS = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}


@dataclass
class RawEvents:
    """Parsed + flattened events and the quarantined unparseable lines.
    ``cached`` is the underlying cached scan (if any) so the pipeline
    can unpersist it once the batch is fully written — a long-running
    stream would otherwise leak one cached batch per micro-batch."""

    events: DataFrame
    corrupt: DataFrame
    cached: DataFrame | None = None


def read_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """Read Segment-Spec NDJSON(.gz) files from a path/glob, PERMISSIVE,
    unparseable lines kept whole in ``_corrupt_record``.

    ``path`` may be a local dir, an ``s3a://`` prefix, or a glob —
    anything Hadoop's FileInputFormat accepts; all files are read in
    parallel (vs the reference's sequential loop). ``parse_events``
    turns the result into flat events.
    """
    return spark.read.options(**NDJSON_OPTIONS).json(path)


def parse_events(raw: DataFrame) -> RawEvents:
    """Split a raw NDJSON frame (batch read or stream micro-batch) into
    the quarantined corrupt lines and flat snake_case events — the one
    parse step both ``send`` modes run."""
    split = _split_corrupt(raw)
    split.events = flatten(split.events)
    return split


def _split_corrupt(raw: DataFrame) -> RawEvents:
    if CORRUPT_COL not in raw.columns:
        corrupt = raw.sparkSession.createDataFrame([], f"{CORRUPT_COL} string")
        return RawEvents(events=raw, corrupt=corrupt)
    # Spark disallows querying only the corrupt-record column from a
    # raw scan; cache the parsed batch (it is about to be consumed
    # multiple times by the 6-way type split anyway)
    cached = raw.cache()
    return RawEvents(
        events=cached.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL),
        corrupt=cached.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL),
        cached=cached,
    )


def read_parquet_events(spark: SparkSession, path: str) -> DataFrame:
    """Parquet event input (S4): passthrough scan, no flatten — parity
    with the reference's pd.read_parquet branch which skips
    flatten/decamelize (send_to_warehouse.py:325-328)."""
    return spark.read.parquet(path)


def read_csv_events(
    spark: SparkSession,
    path: str,
    schema=None,
    delimiter: str = ",",
) -> RawEvents:
    """CSV event input (source-format widening beyond the reference's
    NDJSON/parquet pair — S3-family analog for the flat-file exports
    warehouses emit). Header row expected; with no explicit schema the
    types are inferred from a sampling pass, mirroring the NDJSON
    union-inference story. Malformed rows go to the same
    corrupt-record quarantine channel as read_ndjson — PERMISSIVE
    parse, bad lines surfaced as a side DataFrame, never a job abort.

    CSV columns are already flat, so no flatten pass; names still
    normalize downstream via the shared naming rules."""
    reader = (
        spark.read.option("header", "true")
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return _split_corrupt(reader.csv(path))


def read_orc_events(spark: SparkSession, path: str) -> DataFrame:
    """ORC event input (source-format widening like read_csv_events):
    passthrough columnar scan, same contract as read_parquet_events —
    ORC carries its own schema and predicate-pushdown/column-pruning
    statistics, so the scan behaves like the parquet path (pushed
    filters, pruned ReadSchema) with zero extra code. Hive-exported
    event feeds are the common producer."""
    return spark.read.orc(path)
