"""Minimal native transaction log over plain parquet (Delta-style).

Every parquet table the engine owns is written through this module:
the core mechanism of Delta Lake — a file-based commit log —
implemented natively, so transactional semantics are exercised here
without the delta jars:

- **Log-derived listings.** A table is a directory with ``_txlog/``
  holding one JSON file per version: ``{version, adds, removes,
  schema}``. Data files sit beside it in Spark's own layout
  (``part-…parquet``, or ``<col>=<value>/part-…parquet`` hive
  directories when the table has a partition column); a write lands
  in ``_staging/<uuid>/`` and renames its files into place before it
  commits. The committed schema is the previous commit's plus any new
  columns, so readers get the table schema from the log as well.
  Readers reconstruct the active file set from the log —
  never from a directory listing. At 100 TB this is the difference
  between an O(1)-ish metadata read and a multi-minute S3 LIST, and
  it is why Delta/Iceberg exist (Armbrust et al., VLDB 2020 — public
  design).
- **Atomic, exclusive commits.** A commit is written to a temp file
  and ``os.link``ed to its final ``{version}.json`` name. ``link``
  is atomic and fails with EEXIST if the version is taken, giving
  both crash-atomicity (readers never see a partial commit) and
  optimistic concurrency (the loser re-reads and retries). On object
  stores without atomic create-if-absent this step needs a LogStore
  analog (S3: conditional PUT / DynamoDB lock) — same caveat Delta
  documents.
- **Snapshot isolation + time travel.** ``read(version=N)`` resolves
  the file set as of N; an in-flight reader of version N is untouched
  by any later commit because its files are never mutated, only
  de-referenced (and reclaimed by an explicit ``vacuum``).
- **One commit loop.** Every write — ``append``, ``rewrite``,
  ``commit_txn`` and ``merge_upsert`` (a ``rewrite`` whose build is
  the operators/merge upsert) — runs ``_transact``: replay the log
  once, skip a replayed token, build the adds and removes against that
  snapshot and commit version N+1; on a conflict, re-run against the
  new snapshot. Readers see version N or N+1, never a truncated table,
  and a read-modify-write never drops a commit that landed after its
  read (``streaming/stateful.py:stream_merge_upsert`` applies each CDC
  micro-batch as one ``merge_upsert``; ``ParquetWarehouse.compact`` is
  one ``rewrite`` of the table's read view plus ``vacuum``).
- **Replay-safe stream operators.** Every ``foreachBatch`` operator in
  ``streaming/`` commits with the token ``txn=(checkpoint_dir,
  batch_id)`` and reads its state tables with ``read_before`` (rows
  of strictly earlier batches), so a replayed micro-batch recomputes
  its first attempt's decision and commits only what is missing.
  Tokens survive ``vacuum`` (the folded entry carries them).

Scale stance: the log carries file PATHS and a schema string —
kilobytes per commit, independent of data size. Data moves only
through normal distributed parquet writes. Log replay is O(versions);
production systems checkpoint the replay — noted in ``history()`` —
the mechanism is identical.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

logger = logging.getLogger(__name__)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


# attempts of one write before CommitConflict reaches the caller
_COMMIT_ATTEMPTS = 10


class CommitConflict(Exception):
    """Another writer committed this version first (optimistic
    concurrency): re-read the table and retry the transaction."""


@dataclass
class Snapshot:
    version: int
    files: tuple[str, ...]
    schema_json: str | None
    stats: dict[str, dict] | None = None  # relpath -> {col: [min, max]}
    txns: dict[str, int] = field(default_factory=dict)  # app -> highest token ver


class TxLogTable:
    """A parquet directory governed by a ``_txlog/`` commit log.

    `stats_cols`: columns whose per-FILE min/max are captured from the
    parquet footers at write time and stored in the commit — the zone
    maps behind ``read(where=...)`` data skipping. Footer reads happen
    once per written file; queries prune from the log alone.

    `partition_col`: written files go to ``<col>=<value>/`` hive
    directories (``partitionBy``) whenever the written frame has that
    column; readers recover it from the path."""

    def __init__(
        self,
        path: str,
        stats_cols: tuple[str, ...] = (),
        partition_col: str | None = None,
    ) -> None:
        self.path = Path(path)
        self.log_dir = self.path / "_txlog"
        self.stats_cols = tuple(stats_cols)
        self.partition_col = partition_col

    # -- log plumbing ---------------------------------------------------

    def _reject_unlogged_files(self) -> None:
        """Parquet files in a directory without ``_txlog/`` were written
        without the commit log (every write here creates ``_txlog/``
        before its files land): read as a new table, those rows would be
        invisible and later commits would land beside them."""
        if not self.log_dir.exists() and any(self.path.rglob("*.parquet")):
            raise ValueError(
                f"{self.path} holds parquet files but no _txlog commit: it was "
                "written without the commit log; append its rows to a new table"
            )

    def _log_entries(self) -> list[dict]:
        self._reject_unlogged_files()
        entries = []
        for p in sorted(self.log_dir.glob("*.json")):
            if p.stem.isdigit():
                entries.append(json.loads(p.read_text()))
        return entries

    def latest_version(self) -> int:
        """-1 = empty table (no commits yet)."""
        versions = [
            int(p.stem) for p in self.log_dir.glob("*.json") if p.stem.isdigit()
        ]
        return max(versions, default=-1)

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Active file set, schema and per-app token high-water marks
        as of `version` (default: latest), from ONE replay of the log;
        a production variant checkpoints the replayed state every N
        commits (same mechanism, fewer reads)."""
        return self._replay(self._log_entries(), version)

    @staticmethod
    def _replay(entries: list[dict], version: int | None = None) -> Snapshot:
        active: set[str] = set()
        stats: dict[str, dict] = {}
        txns: dict[str, int] = {}
        schema_json = None
        seen = -1
        for e in entries:
            if version is not None and e["version"] > version:
                break
            active -= set(e["removes"])
            active |= set(e["adds"])
            stats.update(e.get("stats") or {})
            schema_json = e.get("schema") or schema_json
            # a commit's own token, and the marks a vacuum folded in
            t = e.get("txn")
            marks = [(t["app"], t["ver"])] if t else []
            for app, ver in [*marks, *(e.get("txns") or {}).items()]:
                txns[app] = max(txns.get(app, -1), int(ver))
            seen = e["version"]
        if version is not None and seen < version:
            raise ValueError(f"version {version} does not exist (latest {seen})")
        return Snapshot(
            seen,
            tuple(sorted(active)),
            schema_json,
            {f: stats[f] for f in active if f in stats},
            txns,
        )

    def history(self) -> list[dict]:
        return [
            {k: e[k] for k in ("version", "n_adds", "n_removes")}
            for e in (
                {**e, "n_adds": len(e["adds"]), "n_removes": len(e["removes"])}
                for e in self._log_entries()
            )
        ]

    def schema(self, version: int | None = None) -> T.StructType | None:
        """Committed table schema as of `version`; None before the
        first commit."""
        schema_json = self.snapshot(version).schema_json
        if schema_json is None:
            return None
        return T.StructType.fromJson(json.loads(schema_json))

    @staticmethod
    def _evolved_schema(base: Snapshot, df: DataFrame) -> str:
        """The base snapshot's schema plus any columns `df` adds."""
        if base.schema_json is None:
            return df.schema.json()
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        for f in df.schema.fields:
            if f.name not in schema.fieldNames():
                schema.add(f)
        return schema.json()

    def last_txn_version(self, app: str) -> int:
        """Highest idempotence-token version committed for writer
        `app` (-1 if none) — the Delta txnAppId/txnVersion mechanism:
        a replayed writer checks this before re-appending."""
        return self.snapshot().txns.get(app, -1)

    def _txn_already_applied(self, txn: tuple[str, int], snap: Snapshot) -> bool:
        """True if `snap` holds a commit for this (app, ver) token — or
        a LATER ver for the same app — i.e. the write is a replay to
        skip. Logs a warning when `ver` arrives FAR below the app's
        high-water mark: tokens persist in the log forever, so if a
        stream's checkpoint directory is deleted and the query
        restarted with the SAME app id, batch ids reset to 0 and
        genuinely new batches would be silently skipped as replays
        (the Delta txnAppId contract: never reuse an app id with reset
        versions — use a fresh app id per checkpoint incarnation)."""
        last = snap.txns.get(txn[0], -1)
        if last < txn[1]:
            return False
        if txn[1] < last:
            logger.warning(
                "txlog %s: txn token (%s, %d) arrived below the app's "
                "high-water mark %d — treating as a replay and SKIPPING "
                "the write. If this writer's checkpoint was reset (batch "
                "ids restarted from 0), this silently drops new data: "
                "never reuse an app id with reset versions; use a fresh "
                "app id per checkpoint incarnation.",
                self.path, txn[0], txn[1], last,
            )
        return True

    def _commit(
        self,
        version: int,
        adds: list[str],
        removes: list[str],
        schema_json: str,
        stats: dict[str, dict] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Atomically publish `version`; raises CommitConflict if a
        concurrent writer took it."""
        entry = {
            "version": version,
            "adds": sorted(adds),
            "removes": sorted(removes),
            "schema": schema_json,
            "stats": stats or {},
        }
        if txn is not None:
            entry["txn"] = {"app": txn[0], "ver": int(txn[1])}
        self.log_dir.mkdir(parents=True, exist_ok=True)
        tmp = self.log_dir / f".tmp-{uuid.uuid4().hex}.json"
        tmp.write_text(json.dumps(entry, indent=1))
        final = self.log_dir / f"{version:020d}.json"
        try:
            os.link(tmp, final)  # atomic create-if-absent
        except FileExistsError as e:
            raise CommitConflict(
                f"version {version} already committed; re-read and retry"
            ) from e
        finally:
            tmp.unlink(missing_ok=True)

    # -- data path ------------------------------------------------------

    def _write_files(self, df: DataFrame) -> tuple[list[str], dict[str, dict]]:
        """Distributed parquet write into a unique staging dir, whose
        data files are then renamed into the table (hive directories
        kept). Returns the table-relative data file paths (from the
        filesystem ONCE, at write time — reads never list directories)
        plus per-file min/max zone maps for `stats_cols` (footer
        metadata only, no row reads). The files are unreferenced until
        a commit adds them; ``vacuum`` reclaims them if none does.
        ``_txlog/`` exists before any file lands, so only a directory
        written without the log holds parquet files and no ``_txlog/``."""
        self._reject_unlogged_files()
        self.log_dir.mkdir(parents=True, exist_ok=True)
        staging = self.path / "_staging" / uuid.uuid4().hex
        writer = df.write
        if self.partition_col in df.columns:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(str(staging))
        files = []
        try:
            for p in staging.rglob("*.parquet"):
                rel = p.relative_to(staging)
                (self.path / rel.parent).mkdir(parents=True, exist_ok=True)
                os.rename(p, self.path / rel)
                files.append(rel.as_posix())
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return files, self._collect_stats(files)

    def _collect_stats(self, files: list[str]) -> dict[str, dict]:
        if not self.stats_cols:
            return {}
        import pyarrow.parquet as pq

        def _plain(v):
            if isinstance(v, bytes):
                return v.decode("utf-8", "replace")
            return v if isinstance(v, (int, float, str, bool)) else str(v)

        out: dict[str, dict] = {}
        for rel in files:
            md = pq.ParquetFile(str(self.path / rel)).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            per_col: dict[str, list] = {}
            for col in self.stats_cols:
                if col not in names:
                    continue
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(names[col]).statistics
                    if st is None or not st.has_min_max:
                        mins = []  # any statless row group voids the zone map
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins:
                    per_col[col] = [_plain(min(mins)), _plain(max(maxs))]
            if per_col:
                out[rel] = per_col
        return out

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: tuple[str, object, object] | None = None,
    ) -> DataFrame:
        """Snapshot read; `where=(col, lo, hi)` prunes files whose
        committed zone map cannot overlap [lo, hi] BEFORE Spark sees
        them (files without a zone map for `col` are kept — skipping
        must never drop data). This is log-metadata data skipping —
        the predicate itself must still be applied by the query; the
        log only shrinks the file list, exactly like Delta's
        stats-based pruning."""
        return self._read(spark, self.snapshot(version), where)

    def _read(
        self,
        spark: SparkSession,
        snap: Snapshot,
        where: tuple[str, object, object] | None,
    ) -> DataFrame:
        files = list(snap.files)
        if where is not None and files:
            col, lo, hi = where
            kept = []
            for f in files:
                zm = (snap.stats or {}).get(f, {}).get(col)
                if zm is None or not (zm[1] < lo or zm[0] > hi):
                    kept.append(f)
            files = kept
        if snap.schema_json is None:
            raise ValueError(f"{self.path}: empty table with no committed schema")
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        if not files:
            return spark.createDataFrame([], schema)
        # committed schema + explicit files: no footer scan, no listing
        return (
            spark.read.schema(schema).option("basePath", str(self.path))
            .parquet(*[str(self.path / f) for f in files])
        )

    def read_before(
        self, spark: SparkSession, txn: tuple[str, int]
    ) -> DataFrame | None:
        """The rows committed by micro-batches STRICTLY BEFORE batch
        `txn=(app, batch_id)` (the table carries a `batch_id` column):
        the state read of every replay-safe stream operator. A replayed
        batch never sees its own partly committed rows, so it recomputes
        exactly the decision of its first attempt; its commits that did
        land are then skipped by their token. Zone maps on `batch_id`
        (``stats_cols``) prune this and later batches' files from the
        scan; the filter is the guarantee. None = no commit yet (first
        batch).

        A state table belongs to ONE stream: batch ids restart at 0
        under a new checkpoint, so its "before" would be a fraction of
        the state. A table holding another app's tokens raises."""
        app, batch_id = txn
        snap = self.snapshot()
        other = next((a for a in sorted(snap.txns) if a != app), None)
        if other is not None:
            raise ValueError(
                f"{self.path}: state table of the stream {other!r}, not "
                f"{app!r}; restart on that checkpoint or give the new "
                "checkpoint its own state directory"
            )
        if snap.version < 0:
            return None
        df = self._read(spark, snap, where=("batch_id", 0, batch_id - 1))
        return df.filter(F.col("batch_id") < F.lit(batch_id))

    # -- write path -----------------------------------------------------

    def _transact(
        self,
        changes: Callable[[Snapshot], tuple[list[str], list[str], str | None, dict]],
        txn: tuple[str, int] | None = None,
    ) -> int:
        """The one commit loop of every write (optimistic concurrency).
        Each attempt replays the log ONCE, skips the write when `txn`
        is already applied in that snapshot, takes the (adds, removes,
        schema, stats) that `changes(snap)` builds against it and
        commits them as version ``snap.version + 1``. If another writer
        took that version the attempt re-runs against the new
        snapshot; files a lost attempt wrote are referenced by no
        commit, and ``vacuum`` reclaims them. Returns the committed
        version, or the latest one when `txn` is a replay."""
        for _ in range(_COMMIT_ATTEMPTS):
            snap = self.snapshot()
            if txn is not None and self._txn_already_applied(txn, snap):
                return snap.version
            adds, removes, schema_json, stats = changes(snap)
            try:
                self._commit(snap.version + 1, adds, removes, schema_json, stats, txn=txn)
            except CommitConflict:
                continue
            return snap.version + 1
        raise CommitConflict(f"{self.path}: gave up after {_COMMIT_ATTEMPTS} attempts")

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """Append-commit. Blind adds commute, so the files are written
        once and a conflict only retries the commit at the next
        version. Returns the committed version.

        `txn=(app, ver)` makes the append IDEMPOTENT per writer (the
        Delta txnAppId/txnVersion pattern): if the log already holds a
        commit for `app` at `ver` or later, the append is skipped and
        the current latest version is returned — this is how an
        at-least-once micro-batch replay achieves exactly-once output
        (key the token on (checkpoint identity, batch_id)).

        CAVEAT (same as Delta's txnAppId contract): tokens persist in
        the log forever. If a stream's checkpoint directory is deleted
        and the query restarted with the SAME app id, batch ids reset
        to 0 and genuinely new batches are skipped as replays — silent
        data loss. Never reuse an app id with reset versions; key the
        app id on the checkpoint incarnation. A token arriving below
        the app's high-water mark logs a warning."""
        written: list[tuple[list[str], dict[str, dict]]] = []

        def changes(snap: Snapshot):
            if not written:  # on the first attempt the token lets through
                written.append(self._write_files(df))
            adds, stats = written[0]
            return adds, [], self._evolved_schema(snap, df), stats

        return self._transact(changes, txn)

    def rewrite(
        self,
        spark: SparkSession,
        build: Callable[[DataFrame | None], DataFrame],
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Replace the table contents with ``build(rows)`` in ONE
        commit, where `rows` reads the snapshot that commit replaces
        (None while the table has no committed schema). Readers see the
        old or the new snapshot, never an in-between state, and a
        commit that lands while `build`'s result is written is not
        lost: read-modify-writes do not commute, so the conflict re-runs
        `build` against the snapshot that holds it. `txn` is `append`'s
        idempotence token, with the same caveat; it lets incremental
        view maintenance advance its high-water mark atomically with
        the data it derives (operators/incremental.py)."""

        def changes(snap: Snapshot):
            rows = None if snap.schema_json is None else self._read(spark, snap, None)
            df = build(rows)
            # the write finishes before the commit de-references the
            # snapshot files it read; only vacuum ever deletes them
            adds, stats = self._write_files(df)
            return adds, list(snap.files), self._evolved_schema(snap, df), stats

        return self._transact(changes, txn)

    def commit_txn(self, txn: tuple[str, int]) -> int:
        """Metadata-ONLY commit: advance the idempotence token for
        `txn` without touching any data files (empty adds/removes; the
        prior snapshot's file set and schema are untouched). This is
        how incremental view maintenance advances its high-water mark
        when the source gained commits but no data files — a
        kilobyte-sized log entry instead of rewriting the whole rollup.
        Returns the committed (or already-current) version."""
        return self._transact(lambda snap: ([], [], snap.schema_json, {}), txn)

    def merge_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: list[str],
        version_col: str | None = None,
        delete_col: str | None = None,
    ) -> int:
        """Transactional MERGE: a `rewrite` that merges `updates` into
        the snapshot (latest-version-wins upsert + tombstone deletes,
        operators/merge semantics). An empty table merges into an empty
        frame of the updates' columns, tombstone column excluded."""
        from ..operators.merge import merge_upsert as _merge

        def merged(base: DataFrame | None) -> DataFrame:
            if base is None:
                base = updates.limit(0)
                if delete_col is not None:
                    base = base.drop(delete_col)
            return _merge(
                base, updates, keys=keys,
                version_col=version_col, delete_col=delete_col,
            )

        return self.rewrite(spark, merged)

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data files not referenced by any of the last
        `keep_versions` snapshots (and prune their log entries).
        Time travel works within the retained window — the same
        retention contract as Delta VACUUM; idempotence tokens are
        kept, so a batch replayed later is still skipped. Returns
        deleted paths."""
        entries = self._log_entries()  # the one log read
        if not entries:
            return []
        latest = entries[-1]["version"]
        cutoff = max(latest - keep_versions + 1, 0)
        referenced: set[str] = set()
        for v in range(cutoff, latest + 1):
            referenced |= set(self._replay(entries, v).files)
        deleted = []
        for p in sorted(self.path.rglob("*.parquet")):  # listed before any rmdir
            rel = p.relative_to(self.path)
            # _txlog/ and in-flight _staging/ dirs are not table data
            if rel.parts[0].startswith("_") or rel.as_posix() in referenced:
                continue
            p.unlink()
            deleted.append(rel.as_posix())
            if p.parent != self.path and not any(p.parent.iterdir()):
                p.parent.rmdir()  # a partition dir the table no longer uses
        # fold pre-cutoff history into a base commit so replay still
        # starts from a valid state. CRASH-SAFETY ORDER (an advisor
        # flagged the old unlink-then-plain-write sequence as a data
        # loss window): (1) write the folded entry to a temp file and
        # atomically rename it over the cutoff entry, (2) only then
        # unlink the pre-cutoff entries. The folded entry also REMOVES
        # every file any earlier entry ever added (minus the base set),
        # so the log is replay-valid at EVERY intermediate state: with
        # all, some, or none of the pre-cutoff entries still present,
        # snapshot(cutoff) resolves to exactly the base file set
        # (replay applies an entry's removes before its adds).
        if cutoff > 0:
            base = self._replay(entries, cutoff)
            pre = [e for e in entries if e["version"] < cutoff]
            ever_added: set[str] = set()
            for e in pre:
                ever_added |= set(e["adds"])
            rewritten = {
                "version": cutoff,
                "adds": list(base.files),
                "removes": sorted(ever_added - set(base.files)),
                "schema": base.schema_json,
                "stats": base.stats or {},
                # replay safety outlives the pruned entries' tokens
                "txns": base.txns,
            }
            tmp = self.log_dir / f".tmp-vacuum-{uuid.uuid4().hex}.json"
            tmp.write_text(json.dumps(rewritten, indent=1))
            os.replace(tmp, self.log_dir / f"{cutoff:020d}.json")
            for e in pre:
                (self.log_dir / f"{e['version']:020d}.json").unlink()
        return sorted(deleted)
