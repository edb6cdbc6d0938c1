"""CLI entry point — Spark-native equivalent of the reference's
`seghouse send` command (seghouse/app.py:16-44).

    python -m clickstreamtoclickhouse_spark send \
        --config-file conf.yml --source-dir /data/events --namespace myApp

Differences from the reference, by design:
- --source-dir takes any Spark-readable path (local dir, glob, or
  s3a:// prefix) — no aws-cli download step (aws_wrapper.py is
  replaced by the Hadoop S3A connector reading in place);
- --streaming keeps the job running as a Structured Streaming query
  over the landing directory (SURVEY §2.8 capability addition).
"""

from __future__ import annotations

import argparse
import functools
import sys

from pyspark.sql import DataFrame

from . import config as config_mod
from .naming import decamelize
from .operators import coerce, project
from .pipeline import EventPipeline, IngestResult
from .session import get_spark
from .sinks.clickhouse import MISFITS_SPARK_SCHEMA
from .sinks.warehouse import Warehouse, get_warehouse
from .tables import NON_NULL_COLUMNS, USERS_EXTRA_NON_NULL


def _build_warehouses(spark, conf: config_mod.AppConf, default_root: str) -> list[Warehouse]:
    if not conf.warehouses:
        return [get_warehouse("parquet", spark=spark, root=default_root)]
    out = []
    for w in conf.warehouses:
        out.append(get_warehouse(w.kind, spark=spark, **w.options))
    return out


def store_table(wh: Warehouse, namespace: str, name: str, df) -> DataFrame | None:
    """Full per-table write contract (send_to_warehouse.py:298-307 +
    clickhouse.py:193-215): ensure the table exists and additively
    evolve it to the batch's columns (S9/S10), reconcile batch values
    against the table's ACTUAL schema — on conflict the table wins and
    unfixable values are nulled + quarantined (C2-C5) — add any table
    columns the batch lacks (P6) and append. Returns the misfit
    side-output for ``store_misfits`` (None when nothing can misfit)."""
    non_null = NON_NULL_COLUMNS + (USERS_EXTRA_NON_NULL if name == "users" else ())
    inferred = {f.name: f.dataType for f in df.schema.fields}
    actual = wh.ensure_table_structure(
        namespace, name, inferred, tuple(c for c in non_null if c in inferred)
    )
    clean, misfits = coerce.reconcile_types(df, actual, table_name=name)
    clean = project.add_missing_columns(clean, actual)
    wh.insert_df(namespace, name, clean)
    return misfits


def store_misfits(wh: Warehouse, namespace: str, misfits: list[DataFrame | None]) -> None:
    """S12: land one batch's ``store_table`` misfit side-outputs as one
    union — one job to see if it has rows, then one create + append."""
    frames = [m for m in misfits if m is not None]
    if not frames:
        return
    union = functools.reduce(DataFrame.unionByName, frames)
    if union.isEmpty():
        return
    # Real column types, not {}: ClickHouseWarehouse special-cases the
    # misfits DDL, but a sink that renders CREATE TABLE from this dict
    # would fail on an empty one.
    misfit_types = {f.name: f.dataType for f in MISFITS_SPARK_SCHEMA.fields}
    wh.create_table(namespace, "misfits", misfit_types, ())
    wh.insert_df(namespace, "misfits", union)


def store_result(
    result: IngestResult, warehouses: list[Warehouse], namespace: str
) -> None:
    """S13 multiplex: every table goes to every configured warehouse
    (send_to_warehouse.py:98-100,158-159). Store order mirrors the
    reference (identities first — users derive from them; :133-139).
    Only the tables the census counted non-empty are written."""
    ordered = ["identities", "users", "tracks", "screens", "pages", "groups", "aliases"]
    tables = result.all_tables()
    names = ordered + [n for n in tables if n not in ordered]
    for wh in warehouses:
        misfits = [
            store_table(wh, namespace, name, tables[name])
            for name in names
            if result.rows.get(name)
        ]
        store_misfits(wh, namespace, misfits)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="clickstreamtoclickhouse-spark")
    sub = parser.add_subparsers(dest="command", required=True)
    send = sub.add_parser("send", help="ingest a directory of Segment NDJSON events")
    send.add_argument("--config-file", default=None)
    send.add_argument("--source-dir", required=True)
    send.add_argument("--namespace", required=True)
    send.add_argument("--warehouse-root", default="./lake")
    send.add_argument("--streaming", action="store_true")
    send.add_argument("--checkpoint-dir", default=None)
    sub.add_parser("list-queries", help="list every registered analytics query")
    explain = sub.add_parser(
        "explain",
        help="print the physical plan of a registered query "
        "(plan inspection is how the scale contract is audited)",
    )
    explain.add_argument("query", help="query name (see list-queries)")
    explain.add_argument("--sf-dir", default=None, help="testdata dir")
    explain.add_argument(
        "--mode", default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
    )
    run = sub.add_parser(
        "run", help="execute a registered query and print / write the result"
    )
    run.add_argument("query", help="query name (see list-queries)")
    run.add_argument("--sf-dir", default=None, help="testdata dir")
    run.add_argument(
        "--limit", type=int, default=20,
        help="max rows to print (ignored with --output)",
    )
    run.add_argument(
        "--format", default="table", choices=["table", "json"],
        help="stdout format",
    )
    run.add_argument(
        "--output", default=None,
        help="write the FULL result as parquet to this path instead of "
        "printing (distributed write — no driver collect)",
    )
    args = parser.parse_args(argv)

    if args.command == "list-queries":
        from . import plans

        for name in sorted(plans.QUERIES):
            marker = "O" if name in plans.ORACLE else "R"
            print(f"{marker} {name}")
        return 0
    if args.command == "explain":
        from . import plans
        from .session import DEFAULT_SF_DIR

        if args.query not in plans.QUERIES:
            print(f"unknown query: {args.query}", file=sys.stderr)
            return 2
        spark = get_spark(app_name=f"explain-{args.query}")
        df = plans.QUERIES[args.query](spark, args.sf_dir or DEFAULT_SF_DIR)
        df.explain(args.mode)
        return 0
    if args.command == "run":
        from . import plans
        from .session import DEFAULT_SF_DIR

        if args.query not in plans.QUERIES:
            print(f"unknown query: {args.query}", file=sys.stderr)
            return 2
        spark = get_spark(app_name=f"run-{args.query}")
        df = plans.QUERIES[args.query](spark, args.sf_dir or DEFAULT_SF_DIR)
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(f"wrote {args.output}")
        elif args.format == "json":
            for row in df.limit(args.limit).toJSON().collect():
                print(row)
        else:
            df.show(args.limit, truncate=False)
        return 0

    conf = (
        config_mod.from_yaml(args.config_file)
        if args.config_file
        else config_mod.AppConf()
    )
    spark = get_spark(app_name=f"send-{args.namespace}")
    namespace = decamelize(args.namespace)
    pipe = EventPipeline(
        spark,
        namespace=namespace,
        skip_fields=conf.skip_fields,
        extra_timestamps=conf.extra_timestamps,
    )
    warehouses = _build_warehouses(spark, conf, args.warehouse_root)
    for wh in warehouses:
        wh.connect()

    if args.streaming:
        from .streaming.ingest import stream_events

        query = stream_events(
            spark,
            args.source_dir,
            pipe,
            lambda result, _batch_id: store_result(result, warehouses, namespace),
            checkpoint_dir=args.checkpoint_dir,
        )
        query.awaitTermination()
    else:
        result = pipe.ingest_json_dir(args.source_dir)
        store_result(result, warehouses, namespace)
        n_corrupt = result.corrupt.count()
        if n_corrupt:
            print(f"warning: {n_corrupt} unparseable lines quarantined", file=sys.stderr)
        result.unpersist()
    for wh in warehouses:
        wh.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
