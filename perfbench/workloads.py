"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``, not
timed), builds its starting state in a fresh Spark session (``setup``,
timed as set-up, like the ``warmup_passes`` untimed passes that follow
it) and then runs passes (``run_pass``). A pass times one unit of work,
in wall seconds and in CPU seconds of the process tree (``Clock``); it
returns those, the same two for each operation, the events it
processed and the output checks that failed. Every output is checked on
every pass, outside the timed region.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import proctree
import segment_gen
import sf_gen

NAMESPACE = "bench"


class Clock:
    """Wall seconds and CPU seconds of the benchmark's process tree (this
    process, the Spark JVM and its Python workers), less the JVM's
    compiler threads."""

    def __init__(self) -> None:
        self.cpu = proctree.CpuMeter(proctree.tree_pids())

    def now(self) -> tuple[float, float]:
        return time.perf_counter(), self.cpu.read()

    def since(self, mark: tuple[float, float]) -> tuple[float, float]:
        wall, cpu = self.now()
        return wall - mark[0], cpu - mark[1]


@dataclass
class PassResult:
    wall_s: float
    cpu_s: float
    events: int
    #: (label, wall seconds, CPU seconds) of each operation
    ops: list[tuple[str, float, float]] = field(default_factory=list)
    #: checked operations not in ``ops`` (the landing of a batch)
    other_ops: int = 0
    #: (operation label, what was wrong)
    failures: list[tuple[str, str]] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def attempted(self) -> int:
        return len(self.ops) + self.other_ops

    @property
    def failed(self) -> int:
        return len({label for label, _msg in self.failures})


def _table_files(root: str) -> dict[str, int]:
    """Parquet file -> size under ``root``."""
    return {p: os.path.getsize(p) for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)}


def _table_rows(path: str) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in _table_files(path))


# -- ingest, then reads of the lake ----------------------------------------

_TYPE_TABLES = {
    "track": "tracks", "identify": "identities", "page": "pages",
    "screen": "screens", "group": "groups", "alias": "aliases",
}


class IngestFanout:
    """``send`` of one batch onto a lake that already holds an earlier
    batch (``EventPipeline.ingest_json_dir`` then ``app.store_result``
    into a ``ParquetWarehouse``), then reads of the lake with the
    ReplacingMergeTree read semantics: every table's ``read_view``,
    ``event_date``-pruned ``tracks`` scans and latest-version ``users``
    lookups. The new batch replays part of the earlier one, so the
    views must drop duplicates. The lake is restored before each pass.

    A pass times the ``send`` (``cpu_s``, ``wall_s``); the operations
    are the reads."""

    name = "ingest_fanout"
    warmup_passes = 1
    min_passes = 2
    n_events = 2000
    #: the batch set-up lands first; the new batch replays part of it
    seed_events = 500
    #: track event names: 7 + n_names tables, plus misfits
    n_names = 2
    n_users = 400
    corrupt_lines = 5
    misfit_rows = 7
    replay = 100
    lookups = 2
    lookup_size = 8

    def prepare(self, work: str, seed: int) -> None:
        import random

        rng = random.Random(seed)
        self.work = work
        self.seed_batch, seed_lines = segment_gen.write_batch(
            os.path.join(work, "in0"), seed, 0, self.seed_events, self.n_names, self.n_users
        )
        self.batch, _ = segment_gen.write_batch(
            os.path.join(work, "in1"), seed, 1, self.n_events, self.n_names, self.n_users,
            corrupt_lines=self.corrupt_lines, misfit_rows=self.misfit_rows,
            replay=rng.sample(seed_lines, self.replay),
        )
        self._expect_views(rng)

    def expected_rows(self) -> dict[str, int]:
        """Rows the new batch lands in each table."""
        b = self.batch
        want = {
            "tracks": b.by_type["track"], "identities": b.by_type["identify"],
            "users": b.by_type["identify"], "pages": b.by_type["page"],
            "screens": b.by_type["screen"], "groups": b.by_type["group"],
            "aliases": b.by_type["alias"], "misfits": b.misfit_rows,
        }
        want.update(b.by_event)
        return want

    def _expect_views(self, rng) -> None:
        batches = (self.seed_batch, self.batch)
        keys: dict[str, set] = {}
        for b in batches:
            for kind, ts, mid in b.keys:
                keys.setdefault(_TYPE_TABLES[kind], set()).add((ts, mid))
            for table, ts, mid in b.track_keys:
                keys.setdefault(table, set()).add((ts, mid))
        track_days: Counter = Counter()
        for table, ts, _mid in {k for b in batches for k in b.track_keys}:
            track_days[(ts[:10], table)] += 1
        latest: dict[str, tuple] = {}
        for b in batches:
            for uid, ts, mid, plan in b.identifies:
                if uid not in latest or (ts, mid) > latest[uid][:2]:
                    latest[uid] = (ts, mid, plan)
        self.view_rows = {t: len(v) for t, v in keys.items()}
        self.view_rows["users"] = len(latest)
        self.view_rows["misfits"] = self.misfit_rows
        days = sorted({d for d, _ in track_days})
        self.ranges = [(days[0], days[0]), (days[1], days[-1])]
        self.range_counts = []
        for lo, hi in self.ranges:
            want: Counter = Counter()
            for (d, t), n in track_days.items():
                if lo <= d <= hi:
                    want[t] += n
            self.range_counts.append(dict(want))
        users = sorted(latest)
        self.user_sets = [rng.sample(users, self.lookup_size) for _ in range(self.lookups)]
        self.latest_plan = {u: latest[u][2] for u in users}

    def setup(self, spark) -> None:
        from clickstreamtoclickhouse_spark import app
        from clickstreamtoclickhouse_spark.pipeline import EventPipeline
        from clickstreamtoclickhouse_spark.sinks.parquet_sink import ParquetWarehouse

        self.app = app
        self.lake = os.path.join(self.work, "lake")
        self.pristine = os.path.join(self.work, "lake_seeded")
        self.pipe = EventPipeline(spark, namespace=NAMESPACE)
        self.wh = ParquetWarehouse(spark, self.lake)
        self.wh.connect()
        result = self.pipe.ingest_json_dir(self.seed_batch.path)
        app.store_result(result, [self.wh], NAMESPACE)
        result.unpersist()
        shutil.copytree(self.lake, self.pristine)
        self.seed_files = _table_files(self.pristine)
        self.seed_rows = {
            t: _table_rows(os.path.join(self.pristine, NAMESPACE, t))
            for t in os.listdir(os.path.join(self.pristine, NAMESPACE))
        }

    def run_pass(self, spark, tracer) -> PassResult:
        shutil.rmtree(self.lake)
        shutil.copytree(self.pristine, self.lake)
        clock = Clock()
        mark = clock.now()
        result = self.pipe.ingest_json_dir(self.batch.path)
        tables_out = len(result.all_tables())
        self.app.store_result(result, [self.wh], NAMESPACE)
        wall, cpu = clock.since(mark)
        out = PassResult(wall_s=wall, cpu_s=cpu, events=self.batch.events, other_ops=1)
        corrupt = result.corrupt.count()
        result.unpersist()
        self._check_landed(out, corrupt, tables_out)
        self._read_lake(out, tracer, clock)
        return out

    def _check_landed(self, out: PassResult, corrupt: int, tables_out: int) -> None:
        def fail(msg):
            out.failures.append(("landing", msg))

        if corrupt != self.batch.corrupt_lines:
            fail(f"corrupt lines {corrupt} != {self.batch.corrupt_lines}")
        root = os.path.join(self.lake, NAMESPACE)
        landed = {t: _table_rows(os.path.join(root, t)) - self.seed_rows.get(t, 0) for t in os.listdir(root)}
        want = self.expected_rows()
        for table, rows in want.items():
            if landed.get(table, 0) != rows:
                fail(f"{table}: {landed.get(table, 0)} rows landed, {rows} planted")
        if set(landed) - set(want):
            fail(f"unexpected tables {sorted(set(landed) - set(want))}")
        written = {p: s for p, s in _table_files(self.lake).items()
                   if p.replace(self.lake, self.pristine, 1) not in self.seed_files}
        out.counts.update({
            "sources.input_mb": self.batch.input_bytes / 1e6,
            "sources.corrupt_lines": corrupt,
            "pipeline.tables_out": tables_out,
            "operators.coerce.misfit_rows": landed.get("misfits", 0),
            "sinks.files_written": len(written),
            "sinks.bytes_written_mb": sum(written.values()) / 1e6,
            "sinks.bytes_per_input_byte": sum(written.values()) / self.batch.input_bytes,
        })

    def _read_lake(self, out: PassResult, tracer, clock: Clock) -> None:
        from pyspark.sql import functions as F

        def op(label, read):
            mark = clock.now()
            with tracer.span("ops.read") as rec:
                rec["label"] = label
                got = read()
            out.ops.append((label, *clock.since(mark)))
            return got

        root = os.path.join(self.lake, NAMESPACE)
        files = {t: _table_files(os.path.join(root, t)) for t in self.view_rows}
        scanned = rows_in = rows_out = 0
        for table, want in sorted(self.view_rows.items()):
            label = f"view:{table}"
            got = op(label, lambda: self.wh.read_view(NAMESPACE, table).count())
            stored = _table_rows(os.path.join(root, table))
            scanned, rows_in, rows_out = scanned + len(files[table]), rows_in + stored, rows_out + got
            if got != want:
                out.failures.append((label, f"{got} rows, {want} distinct planted"))
        for (lo, hi), want in zip(self.ranges, self.range_counts):
            label = f"tracks:{lo}..{hi}"
            rows = op(label, lambda: (
                self.wh.read_view(NAMESPACE, "tracks")
                .filter(F.col("event_date").between(lo, hi))
                .groupBy("event").count().collect()
            ))
            scanned += sum(1 for p in files["tracks"] if lo <= p.split("event_date=")[1][:10] <= hi)
            if {r[0]: r[1] for r in rows} != want:
                out.failures.append((label, f"{rows} != {want}"))
        for i, users in enumerate(self.user_sets):
            label = f"users:lookup{i}"
            rows = op(label, lambda: (
                self.wh.read_view(NAMESPACE, "users")
                .filter(F.col("user_id").isin(users))
                .select("user_id", "traits_plan").collect()
            ))
            scanned += len(files["users"])
            want = {u: self.latest_plan[u] for u in users}
            if {r[0]: r[1] for r in rows} != want:
                out.failures.append((label, f"latest version lost ({rows} != {want})"))
        out.counts.update({
            "sinks.files_scanned": scanned,
            "operators.dedup.rows_in": rows_in,
            "operators.dedup.rows_out": rows_out,
        })

    def teardown(self) -> None:
        pass


# -- query mix --------------------------------------------------------------

#: fixed order; the sub-second majority, then the heavy dedup/graph tail
#: (about a third of a pass's time)
QUERY_MIX = (
    # sub-second majority, at least one per plans module
    "daily_events",  # core
    "event_millis",  # relational
    "promo_revenue_share",  # tpch
    "mann_whitney_u",  # experiments
    "value_quantile_sketch",  # profiling
    "readability_by_source",  # corpus
    "oov_rate_by_lang",  # curation
    "doc_chunking",  # llmprep
    "search_snippets",  # retrieval
    "html_text_extract",  # webprep
    "doc_fingerprints",  # ext
    # heavy dedup/graph tail: a session-cache group, both members
    "dedup_clusters", "dedup_cluster_representatives",
)


def canon(pdf) -> list[tuple]:
    """Columns sorted by name, values as strings (floats to 6 places),
    rows sorted: the order-insensitive form both engines are compared
    in."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = []
    for tup in pdf.itertuples(index=False):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("NULL")
            elif isinstance(v, float):
                row.append(f"{v:.6f}")
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


def result_digest(pdf) -> tuple[int, tuple[str, ...], str]:
    rows = canon(pdf)
    return len(rows), tuple(sorted(pdf.columns)), hashlib.sha256(repr(rows).encode()).hexdigest()


class QueryMix:
    """A fixed list of registered queries over generated star-schema
    tables, in a fixed order, each collected and checked against its
    DuckDB oracle. Each pass starts by evicting the session caches."""

    name = "query_mix"
    warmup_passes = 1
    min_passes = 2
    scale = 0.1
    queries = QUERY_MIX

    def prepare(self, work: str, seed: int) -> None:
        import duckdb

        from clickstreamtoclickhouse_spark import plans

        self.sf_dir = os.path.join(work, "sf")
        self.table_rows = sf_gen.write_tables(self.sf_dir, seed, self.scale)
        con = duckdb.connect()
        for t in sf_gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        self.expected = {q: result_digest(con.execute(plans.ORACLE[q]).fetchdf()) for q in self.queries}
        con.close()

    def setup(self, spark) -> None:
        from clickstreamtoclickhouse_spark import plans, util

        self.plans, self.util = plans, util

    def run_pass(self, spark, tracer) -> PassResult:
        ops, outputs = [], []
        self.util.evict_session_caches()
        clock = Clock()
        pass_mark = clock.now()
        for q in self.queries:
            mark = clock.now()
            with tracer.span("ops.query") as rec:
                rec["label"] = q
                try:
                    with tracer.span("plans.build"):
                        df = self.plans.QUERIES[q](spark, self.sf_dir)
                    with tracer.span("plans.execute"):
                        pdf = df.toPandas()
                except Exception as e:  # noqa: BLE001 — a failed query is counted, the mix goes on
                    pdf = e
            ops.append((q, *clock.since(mark)))
            outputs.append(pdf)
            if tracer.enabled:
                rec.update(util_snapshot(spark))
        wall, cpu = clock.since(pass_mark)
        out = PassResult(wall_s=wall, cpu_s=cpu, events=sum(self.table_rows.values()), ops=ops)
        for q, pdf in zip(self.queries, outputs):
            if isinstance(pdf, Exception):
                out.failures.append((q, f"{type(pdf).__name__}: {str(pdf)[:200]}"))
            elif result_digest(pdf) != self.expected[q]:
                out.failures.append((q, "result differs from its oracle"))
        return out

    def teardown(self) -> None:
        self.util.evict_session_caches()


def util_snapshot(spark) -> dict:
    """Storage the session holds after an operation."""
    from clickstreamtoclickhouse_spark import util

    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return {
        "util.persisted_rdds": len(jsc.getPersistentRDDs()),
        "util.storage_held_mb": sum(i.memSize() + i.diskSize() for i in infos) / 1e6,
        "util.session_cache_entries": sum(len(c) for c in util._SESSION_CACHES),
    }


WORKLOADS = {w.name: w for w in (IngestFanout, QueryMix)}
