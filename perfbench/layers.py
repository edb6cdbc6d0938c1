"""Which public calls of the engine get a span, per workload.

Spans wrap the calls from outside (``Tracer.wrap``); the engine's code is
not changed. Each call site below is the attribute the engine itself
looks up at call time, so the wrapped version is the one that runs.
"""

from __future__ import annotations


def install(tracer, workload: str) -> None:
    from clickstreamtoclickhouse_spark import app
    from clickstreamtoclickhouse_spark.operators import coerce
    from clickstreamtoclickhouse_spark.pipeline import EventPipeline
    from clickstreamtoclickhouse_spark.sinks.parquet_sink import ParquetWarehouse
    from clickstreamtoclickhouse_spark.sinks.warehouse import Warehouse
    from clickstreamtoclickhouse_spark.sources import readers

    if workload == "ingest_fanout":
        from pyspark.sql.classic.dataframe import DataFrame

        tracer.wrap(EventPipeline, "ingest_json_dir", "pipeline.ingest_json_dir")
        tracer.wrap(readers, "read_ndjson", "sources.read_ndjson")
        tracer.wrap(readers, "flatten", "sources.flatten")
        tracer.wrap(EventPipeline, "_process", "pipeline.process")
        tracer.wrap(app, "store_result", "app.store_result")
        tracer.wrap(app, "store_table", "app.store_table")
        tracer.wrap(DataFrame, "isEmpty", "app.empty_check")
        tracer.wrap(Warehouse, "ensure_table_structure", "sinks.ensure_table_structure")
        tracer.wrap(coerce, "reconcile_types", "operators.coerce.reconcile")
        tracer.wrap(ParquetWarehouse, "insert_df", "sinks.insert_df")
        tracer.wrap(ParquetWarehouse, "read_table", "sinks.read_table")
        tracer.wrap(ParquetWarehouse, "read_view", "sinks.read_view")
