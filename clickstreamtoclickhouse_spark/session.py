"""SparkSession factory tuned for this engine.

Local mode mirrors the test harness (local[32], single JVM); the same
configs are what we would set cluster-side: AQE on (runtime re-plan,
skew-join handling, partition coalescing), shuffle partitions sized to
parallelism, UTC session timezone (oracle comparison + reference
parity: the reference stores naive-UTC timestamps,
/root/reference/seghouse/jobs/send_to_warehouse.py:44-46), and Arrow
for the few Pandas-UDF paths.

Two constants cut the fixed per-job and per-task cost of plans that
repeat (bench passes, streaming micro-batches, a long session's query
stream). Neither changes a plan or a result:

- ``spark.sql.codegen.cache.maxEntries`` = 8192. Spark caches generated
  classes in one JVM-wide LRU of 100 entries by default. A pass that
  cycles through more classes than that misses on every lookup and
  recompiles everything: the 13-query perfbench ``query_mix`` compiled
  277 classes on every steady-state pass, ``ingest_fanout`` 98. With
  this cache a steady-state pass compiles 0-8 and 0. One pass of all
  295 registered queries at sf0.001 compiles about 4 400 distinct
  classes at roughly 36 KB of metaspace each (74 -> 236 MB); 8192 holds
  that with 2x headroom. The value is a static conf, read once when the
  JVM first generates code.
- ``spark.shuffle.sort.bypassMergeThreshold`` = 1. Up to this many
  reduce partitions (default 200) Spark's bypass writer opens one
  compressed file per reduce partition in every map task and then
  concatenates them, so at the floor of 32 shuffle partitions set below
  each map task writes 32 files. At 1, every SQL shuffle uses the
  serialized sort writer, one file per map task, as Spark already does
  for every shuffle wider than 200 partitions. Lowering the partition
  floor instead saves as much executor time but changes plans and
  parallelism at scale.

On a 4-vCPU host (perfbench, ``local[2]``, ten alternating pairs) the
median CPU per ``query_mix`` pass fell from 11.2 s to 8.2 s; in a
traced pass executor CPU fell from 2.9 s to 0.9 s and the scheduler
floor from 7.0 s to 4.7 s, with the same jobs, stages, tasks and
shuffle bytes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "clickstreamtoclickhouse-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster the master/memory settings come from
    spark-submit; everything else here is cluster-appropriate as-is.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # both: see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet stores naive-UTC timestamp[us]; read it as
        # TIMESTAMP (session tz UTC ⇒ same instant) rather than NTZ so
        # chrono functions (unix_micros & co.) stay applicable
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # session-wide invariant: parquet timestamp[ns] columns (events
        # testdata) read as LongType; plans.registry.load() truncates
        # them to micros. Set once here so no plan mutates session conf
        # mid-flight (registry.load documents the same invariant for
        # foreign sessions).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # the engine makes no catalog table, but Spark creates this dir
        # the first time anything touches the catalog (listTables());
        # unpinned it would land spark-warehouse/ in the working dir
        .config("spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse")
        # modest heap: a huge (48g+) heap caused multi-second GC /
        # page-zeroing stalls in local mode with no throughput benefit
        # at bench scale; override via SPARK_DRIVER_MEM for bigger SFs
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
