"""Event-file source (S1-S3 in SURVEY.md §2.1).

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
- S4: parquet passthrough (send_to_warehouse.py:325-328) needs no
  reader: ``EventPipeline.ingest_df(spark.read.parquet(path))``.

Malformed lines: the reference would raise on the first bad line
(json.loads). We read PERMISSIVE with a corrupt-record column and
expose the bad lines as a side DataFrame — same spirit as the misfits
quarantine channel (dataframe_util.py:148-185), applied one stage
earlier. Documented deviation: reference parity would be FAILFAST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .flatten import flatten

CORRUPT_COL = "_corrupt_record"
#: NDJSON parse mode of the batch read and the landing stream
NDJSON_OPTIONS = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}


def read_ndjson(spark: SparkSession, path: str) -> DataFrame:
    """Read Segment-Spec NDJSON(.gz) files from a path/glob, PERMISSIVE,
    unparseable lines kept whole in ``_corrupt_record``.

    ``path`` may be a local dir, an ``s3a://`` prefix, or a glob —
    anything Hadoop's FileInputFormat accepts; all files are read in
    parallel (vs the reference's sequential loop). ``parse_events``
    turns the result into flat events.
    """
    raw = spark.read.options(**NDJSON_OPTIONS).json(path)
    if raw.columns == [CORRUPT_COL]:
        # no line parsed to a JSON object with a field, and Spark refuses
        # a raw JSON scan of the corrupt column alone: quarantine every
        # non-blank line from a text read of the same files
        return (
            spark.read.text(path)
            .where(F.trim("value") != "")
            .select(F.col("value").alias(CORRUPT_COL))
        )
    return raw


def parse_events(raw: DataFrame) -> DataFrame:
    """Flatten a raw NDJSON frame (batch read or stream micro-batch) to
    snake_case columns — the one parse step both ``send`` modes run.
    ``_corrupt_record`` passes through under its own name, so the
    pipeline splits the quarantined lines off its one cached batch."""
    return flatten(raw)
