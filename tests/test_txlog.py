"""Native transaction log (sinks/txlog.py): snapshot isolation, time
travel, atomic merge, optimistic concurrency, vacuum retention,
idempotence tokens and the incremental rollup that commits through
them."""

from __future__ import annotations

import json as _json
import logging

import pytest

from clickstreamtoclickhouse_spark.sinks.txlog import CommitConflict, TxLogTable


def _df(spark, rows, schema="id long, v long"):
    return spark.createDataFrame(rows, schema)


def test_append_and_read_roundtrip(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    assert t.latest_version() == -1
    v0 = t.append(_df(spark, [(1, 10), (2, 20)]))
    v1 = t.append(_df(spark, [(3, 30)]))
    assert (v0, v1) == (0, 1)
    got = sorted((r["id"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, 10), (2, 20), (3, 30)]


def test_token_append_replays_log_once_per_attempt(spark, tmp_path, monkeypatch):
    # every uncontended write replays the log once: that one snapshot
    # holds the token check and the rows a rewrite builds from. A
    # skipped replay and vacuum read the log once too.
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]), txn=("s", 0))
    t.append(_df(spark, [(2, 20)]), txn=("s", 1))
    replays = []
    entries = TxLogTable._log_entries
    monkeypatch.setattr(
        TxLogTable, "_log_entries", lambda self: replays.append(1) or entries(self)
    )

    def replays_of(write):
        replays.clear()
        write()
        return len(replays)

    assert replays_of(lambda: t.append(_df(spark, [(3, 30)]), txn=("s", 2))) == 1
    assert replays_of(lambda: t.append(_df(spark, [(3, 30)]), txn=("s", 2))) == 1
    assert replays_of(lambda: t.append(_df(spark, [(4, 40)]))) == 1
    assert replays_of(lambda: t.rewrite(spark, lambda rows: rows.filter("id > 1"))) == 1
    assert replays_of(lambda: t.merge_upsert(spark, _df(spark, [(5, 50)]), keys=["id"])) == 1
    assert replays_of(lambda: t.commit_txn(("ivm", 0))) == 1
    assert replays_of(lambda: t.vacuum(keep_versions=1)) == 1
    assert t.snapshot().txns == {"s": 2, "ivm": 0}
    assert sorted(r["id"] for r in t.read(spark).collect()) == [2, 3, 4, 5]


def test_vacuum_keeps_idempotence_tokens(spark, tmp_path):
    # the fold replaces the pruned entries, tokens included: a batch
    # replayed after a vacuum is still skipped
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, [(0, 0)]), txn=("ckpt", 0))
    t.append(_df(spark, [(1, 10)]), txn=("ckpt", 1))
    t.append(_df(spark, [(2, 20)]), txn=("other", 5))
    t.vacuum()
    assert len(t.history()) == 1
    assert t.snapshot().txns == {"ckpt": 1, "other": 5}
    t.append(_df(spark, [(1, 10)]), txn=("ckpt", 1))  # replay
    t.append(_df(spark, [(3, 30)]), txn=("ckpt", 2))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 2, 3]


def test_unlogged_parquet_dir_is_rejected(spark, tmp_path):
    # parquet files with no _txlog/ were written without the commit
    # log; as a new table their rows would be invisible
    import re

    raw = tmp_path / "raw"
    _df(spark, [(1, 10)]).write.parquet(str(raw))
    t = TxLogTable(str(raw), stats_cols=("batch_id",))
    for use in (
        lambda: t.snapshot(),
        lambda: t.read_before(spark, ("ckpt", 0)),
        lambda: t.append(_df(spark, [(2, 20)])),
    ):
        with pytest.raises(ValueError, match=re.escape(str(raw))):
            use()
    # nothing was committed beside the old files
    assert not t.log_dir.exists()


def test_read_before_binds_state_to_one_stream(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), stats_cols=("batch_id",))
    assert t.read_before(spark, ("a", 0)) is None
    for b in range(3):
        t.append(
            spark.createDataFrame([(b, b)], "id long, batch_id long"), txn=("a", b)
        )
    assert sorted(r["id"] for r in t.read_before(spark, ("a", 2)).collect()) == [0, 1]
    with pytest.raises(ValueError, match="'a'"):
        t.read_before(spark, ("b", 0))


def test_idempotent_txn_append_skips_replay(spark, tmp_path):
    # Delta txnAppId/txnVersion semantics: a replayed (app, ver)
    # append is a no-op; a HIGHER ver for the same app lands; an
    # independent app is unaffected by the first app's tokens
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]), txn=("stream-a", 0))
    assert t.last_txn_version("stream-a") == 0
    v_before = t.latest_version()
    t.append(_df(spark, [(1, 10)]), txn=("stream-a", 0))  # replay
    assert t.latest_version() == v_before  # no new commit
    assert [r["id"] for r in t.read(spark).collect()] == [1]
    t.append(_df(spark, [(2, 20)]), txn=("stream-a", 1))
    t.append(_df(spark, [(3, 30)]), txn=("stream-b", 0))
    assert t.last_txn_version("stream-a") == 1
    assert t.last_txn_version("stream-b") == 0
    assert t.last_txn_version("stream-c") == -1
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [1, 2, 3]
    # stale token (ver <= already-committed) is also skipped
    t.append(_df(spark, [(9, 90)]), txn=("stream-a", 0))
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2, 3]


def test_time_travel_and_overwrite_isolation(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    t.append(_df(spark, [(2, 20)]))
    # a reader holding version 0 is unaffected by the rewrite below
    old = t.read(spark, version=0)
    t.rewrite(spark, lambda _: _df(spark, [(9, 90)]))
    assert [(r["id"], r["v"]) for r in old.collect()] == [(1, 10)]
    assert [(r["id"], r["v"]) for r in t.read(spark).collect()] == [(9, 90)]
    assert sorted(
        (r["id"], r["v"]) for r in t.read(spark, version=1).collect()
    ) == [(1, 10), (2, 20)]
    with pytest.raises(ValueError):
        t.snapshot(version=99)


def test_commit_conflict_is_detected(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    # two writers race for version 1: the second link must fail
    t._commit(1, [], [], None)
    with pytest.raises(CommitConflict):
        t._commit(1, [], [], None)
    # append() retries past the conflict and lands on version 2
    assert t.append(_df(spark, [(2, 20)])) == 2


def test_merge_upsert_transactional(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    # the table never stores the tombstone column — it arrives only on
    # update batches (merge_upsert's contract)
    schema = "id long, val string, ver long, deleted boolean"
    t.append(_df(spark, [(1, "a", 1), (2, "b", 1)], "id long, val string, ver long"))
    updates = _df(
        spark,
        [
            (1, "a2", 2, False),    # matched: update row replaces base
            (3, "c_old", 0, False),  # in-batch duplicate, lower ver...
            (3, "c", 1, False),      # ...version_col keeps this one
        ],
        schema,
    )
    v = t.merge_upsert(
        spark, updates, keys=["id"], version_col="ver", delete_col="deleted"
    )
    got = {r["id"]: (r["val"], r["ver"]) for r in t.read(spark).collect()}
    assert got == {1: ("a2", 2), 2: ("b", 1), 3: ("c", 1)}
    # tombstone delete, applied atomically as one more version
    t.merge_upsert(
        spark,
        _df(spark, [(2, "x", 9, True)], schema),
        keys=["id"],
        version_col="ver",
        delete_col="deleted",
    )
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 3]
    # replaying the SAME update batch is a no-op on content (idempotent
    # CDC apply), just a new version
    before = sorted(map(tuple, t.read(spark).collect()))
    t.merge_upsert(
        spark, updates.filter("id = 1"), keys=["id"],
        version_col="ver", delete_col="deleted",
    )
    assert sorted(map(tuple, t.read(spark).collect())) == before
    assert t.latest_version() == v + 2


def test_merge_on_empty_table(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    schema = "id long, val string, ver long"
    t.merge_upsert(
        spark, _df(spark, [(1, "a", 1)], schema), keys=["id"], version_col="ver"
    )
    assert [(r["id"], r["val"]) for r in t.read(spark).collect()] == [(1, "a")]


def test_vacuum_reclaims_unreferenced_files(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    t.rewrite(spark, lambda _: _df(spark, [(2, 20)]))
    t.rewrite(spark, lambda _: _df(spark, [(3, 30)]))
    deleted = t.vacuum(keep_versions=1)
    assert deleted  # versions 0/1's exclusive files are gone
    # latest snapshot intact after vacuum
    assert [(r["id"], r["v"]) for r in t.read(spark).collect()] == [(3, 30)]
    # history outside the retention window is pruned
    with pytest.raises(ValueError):
        t.snapshot(version=0)


def test_vacuum_fold_is_crash_safe_at_every_intermediate_state(spark, tmp_path):
    """The vacuum fold must write the folded cutoff entry (atomic
    rename) BEFORE unlinking pre-cutoff entries, and the folded entry
    must re-remove everything earlier entries added — so a crash
    anywhere in the window leaves a log whose replay still resolves
    every retained version correctly. Simulated here by replaying the
    exact on-disk states the fold passes through."""
    import json as _json

    t = TxLogTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))          # v0: adds A
    t.rewrite(spark, lambda _: _df(spark, [(2, 20)]))  # v1: removes A, adds B
    t.rewrite(spark, lambda _: _df(spark, [(3, 30)]))  # v2: removes B, adds C
    base_files = set(t.snapshot(2).files)

    # state 1: folded v2 written, pre-cutoff entries STILL PRESENT
    # (crash between the rename and the unlinks). Build it by running
    # vacuum on a copy of the log and restoring the pre-cutoff files.
    pre_entries = {
        e["version"]: _json.dumps(e)
        for e in t._log_entries()
        if e["version"] < 2
    }
    t.vacuum(keep_versions=1)
    folded = _json.loads((t.log_dir / f"{2:020d}.json").read_text())
    # fold re-removes the superseded files, not just re-adds the base
    assert set(folded["removes"]) >= (
        {f for v in (0, 1) for f in _json.loads(pre_entries[v])["adds"]}
        - base_files
    )
    for v, payload in pre_entries.items():
        (t.log_dir / f"{v:020d}.json").write_text(payload)
    # replay over the crash-state log: latest snapshot is exactly base
    assert set(t.snapshot().files) == base_files
    assert [(r["id"], r["v"]) for r in t.read(spark).collect()] == [(3, 30)]
    # and the table still accepts commits from the crash state
    t.append(_df(spark, [(4, 40)]))
    assert sorted(
        (r["id"], r["v"]) for r in t.read(spark).collect()
    ) == [(3, 30), (4, 40)]


def test_empty_table_read_uses_committed_schema(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"))
    with pytest.raises(ValueError):
        t.read(spark)


def test_streaming_cdc_through_txlog(spark, tmp_path):
    """foreachBatch CDC-apply where each micro-batch is ONE atomic
    commit — closing the parquet overwrite path's two-step window."""
    import json as _json

    landing = tmp_path / "cdc"
    landing.mkdir()
    t = TxLogTable(str(tmp_path / "table"))

    def write_file(name, rows):
        with open(landing / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write_file("b1.json", [
        {"id": 1, "val": "a", "ver": 1},
        {"id": 2, "val": "b", "ver": 1},
    ])
    stream = spark.readStream.schema("id long, val string, ver long").option(
        "maxFilesPerTrigger", 1
    ).json(str(landing))

    def apply_batch(batch_df, batch_id):
        t.merge_upsert(spark, batch_df, keys=["id"], version_col="ver")

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_file("b2.json", [
            {"id": 1, "val": "a2", "ver": 2},
            {"id": 3, "val": "c", "ver": 1},
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["id"]: (r["val"], r["ver"]) for r in t.read(spark).collect()}
    assert got == {1: ("a2", 2), 2: ("b", 1), 3: ("c", 1)}
    assert len(t.history()) == t.latest_version() + 1


def test_zone_map_data_skipping(spark, tmp_path):
    """Per-file min/max from the commit log prune the file list before
    Spark sees it: two appends with disjoint id ranges -> a ranged
    read scans only the overlapping file (verified via inputFiles)."""
    t = TxLogTable(str(tmp_path / "t"), stats_cols=("id",))
    t.append(_df(spark, [(i, i * 10) for i in range(0, 100)]).coalesce(1))
    t.append(_df(spark, [(i, i * 10) for i in range(1000, 1100)]).coalesce(1))
    snap = t.snapshot()
    assert len(snap.files) == 2 and len(snap.stats) == 2
    for f, zm in snap.stats.items():
        assert set(zm) == {"id"}

    pruned = t.read(spark, where=("id", 1050, 1060))
    assert len(pruned.inputFiles()) == 1
    got = sorted(r["id"] for r in pruned.filter("id between 1050 and 1060").collect())
    assert got == list(range(1050, 1061))
    # full read still sees both files; a no-overlap range sees none
    assert len(t.read(spark).inputFiles()) == 2
    assert t.read(spark, where=("id", 5000, 6000)).count() == 0


def test_zone_maps_survive_vacuum(spark, tmp_path):
    t = TxLogTable(str(tmp_path / "t"), stats_cols=("id",))
    t.append(_df(spark, [(1, 10)]).coalesce(1))
    t.rewrite(spark, lambda _: _df(spark, [(2, 20)]).coalesce(1))
    t.rewrite(spark, lambda _: _df(spark, [(3, 30)]).coalesce(1))
    t.vacuum(keep_versions=1)
    snap = t.snapshot()
    assert snap.stats and all("id" in zm for zm in snap.stats.values())
    assert t.read(spark, where=("id", 3, 3)).count() == 1
    assert len(t.read(spark, where=("id", 100, 200)).inputFiles()) == 0


def test_log_replay_matches_model_over_random_ops(spark, tmp_path):
    """Seeded random append/overwrite/merge sequence executed against
    the table AND a driver-side model; every historical version must
    replay to the model's snapshot at that point (full time-travel
    consistency, not just the final state)."""
    import random

    rng = random.Random(20240814)
    t = TxLogTable(str(tmp_path / "t"))
    model: dict[int, int] = {}
    history: list[dict[int, int]] = []

    next_id = 0
    for _ in range(12):
        op = rng.choice(["append", "overwrite", "merge"])
        rows = [(next_id + i, rng.randrange(100)) for i in range(rng.randint(1, 3))]
        next_id += len(rows)
        if op == "append":
            t.append(_df(spark, rows))
            model.update(dict(rows))
        elif op == "overwrite":
            t.rewrite(spark, lambda _: _df(spark, rows))
            model = dict(rows)
        else:
            upd = [(k, v, 1) for k, v in rows]
            # also update one existing key when possible
            if model:
                k = rng.choice(sorted(model))
                upd.append((k, rng.randrange(100), 1))
            t.merge_upsert(
                spark,
                _df(spark, upd, "id long, v long, ver long").select("id", "v", "ver"),
                keys=["id"],
                version_col="ver",
            )
            for k, v, _ in upd:
                model[k] = v
        history.append(dict(model))

    for version, expected in enumerate(history):
        got = {
            r["id"]: r["v"]
            for r in t.read(spark, version=version).select("id", "v").collect()
        }
        assert got == expected, f"version {version}"


def test_concurrent_appends_all_land(spark, tmp_path):
    """Real thread-level races on the commit log: every append must
    survive (conflicts retried), versions must be contiguous."""
    import threading

    t = TxLogTable(str(tmp_path / "t"))
    errors = []

    def worker(wid: int):
        try:
            for j in range(3):
                t.append(_df(spark, [(wid * 100 + j, wid)]))
        except Exception as e:  # pragma: no cover - failure diagnostics
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.latest_version() == 11  # 12 contiguous commits, 0..11
    ids = sorted(r["id"] for r in t.read(spark).collect())
    assert len(ids) == 12


def test_txlog_incremental_rollup_log_diff(spark, tmp_path):
    """Incremental view maintenance over a txlog table: refresh #2
    must aggregate ONLY the files added since the last processed
    commit (log diff), the high-water mark must ride the rollup
    commit (idempotent replay), and a history rewrite must raise."""
    from clickstreamtoclickhouse_spark.operators.incremental import (
        txlog_incremental_rollup,
    )

    src = TxLogTable(str(tmp_path / "events_tx"))
    roll = TxLogTable(str(tmp_path / "rollup_tx"))
    schema = "event_type string, value double"

    src.append(spark.createDataFrame(
        [("click", 1.00), ("view", 2.50), ("click", 0.25)], schema))
    v, n_new = txlog_incremental_rollup(spark, src, roll)
    assert v == 0 and n_new >= 1
    got = {r.event_type: (r.n_rows, r.value_cents)
           for r in roll.read(spark).collect()}
    assert got == {"click": (2, 125), "view": (1, 250)}

    # already current: no new commit, no files processed
    rv = roll.latest_version()
    assert txlog_incremental_rollup(spark, src, roll) == (0, 0)
    assert roll.latest_version() == rv

    # append a second batch; refresh must read ONLY its files
    src.append(spark.createDataFrame(
        [("click", 10.00), ("purchase", 5.00)], schema))
    before = set(src.snapshot(0).files)
    v, n_new = txlog_incremental_rollup(spark, src, roll)
    after = set(src.snapshot(1).files)
    assert v == 1 and n_new == len(after - before)
    got = {r.event_type: (r.n_rows, r.value_cents)
           for r in roll.read(spark).collect()}
    assert got == {
        "click": (3, 1125), "view": (1, 250), "purchase": (1, 500)
    }

    # history rewrite (a compaction) invalidates the additive delta ->
    # the refresh must refuse, not silently double-count
    src.append(spark.createDataFrame([("view", 1.00)], schema))
    src.rewrite(spark, lambda rows: rows.coalesce(1))
    with pytest.raises(ValueError, match="rebuild"):
        txlog_incremental_rollup(spark, src, roll)


def test_ivm_metadata_only_commit_when_no_new_files(spark, tmp_path):
    """When the source gained commits but no data files, the rollup's
    high-water mark must advance via a METADATA-ONLY commit (empty
    adds/removes, prior file set kept) — not an O(table) overwrite
    that rewrites every rollup file just to record the token."""
    from clickstreamtoclickhouse_spark.operators.incremental import (
        txlog_incremental_rollup,
    )

    src = TxLogTable(str(tmp_path / "ivm_src"))
    roll = TxLogTable(str(tmp_path / "ivm_roll"))
    schema = "event_type string, value double"
    src.append(spark.createDataFrame([("click", 1.00)], schema))
    assert txlog_incremental_rollup(spark, src, roll)[0] == 0
    files_before = set(roll.snapshot().files)

    # a data-free source commit (token-only) advances the version
    src.commit_txn(("external-writer", 0))
    assert src.latest_version() == 1
    v, n_new = txlog_incremental_rollup(spark, src, roll)
    assert (v, n_new) == (1, 0)

    # the mark advanced...
    assert roll.last_txn_version(str(src.path)) == 1
    # ...through a commit that touched ZERO data files
    entry = _json.loads(
        (roll.log_dir / f"{roll.latest_version():020d}.json").read_text()
    )
    assert entry["adds"] == [] and entry["removes"] == []
    assert set(roll.snapshot().files) == files_before
    # and the rollup still reads correctly
    got = {r.event_type: r.value_cents for r in roll.read(spark).collect()}
    assert got == {"click": 100}
    # idempotent: a replayed refresh is a pure no-op
    rv = roll.latest_version()
    assert txlog_incremental_rollup(spark, src, roll) == (1, 0)
    assert roll.latest_version() == rv


def test_txlog_below_highwater_token_warns(spark, tmp_path, caplog):
    """Tokens persist forever: a token version BELOW the app's
    high-water mark means either a benign replay or a reset
    checkpoint reusing the app id (silent data loss). The skip stays
    (idempotence contract) but must be loud."""
    t = TxLogTable(str(tmp_path / "warn_tx"))
    df = spark.createDataFrame([(1,)], "a long")
    t.append(df, txn=("appA", 5))
    v = t.latest_version()

    with caplog.at_level(logging.WARNING,
                         logger="clickstreamtoclickhouse_spark.sinks.txlog"):
        # exact replay of the committed version: skip, NO warning
        assert t.append(df, txn=("appA", 5)) == v
        assert not [r for r in caplog.records if "high-water" in r.message]
        # token below the mark: skip + warning
        assert t.append(df, txn=("appA", 3)) == v
        warned = [r for r in caplog.records if "high-water" in r.message]
        assert len(warned) == 1
    assert t.read(spark).count() == 1

    with caplog.at_level(logging.WARNING,
                         logger="clickstreamtoclickhouse_spark.sinks.txlog"):
        caplog.clear()
        assert t.rewrite(spark, lambda _: df, txn=("appA", 2)) == v
        assert [r for r in caplog.records if "high-water" in r.message]


def test_txlog_commit_txn_metadata_only(spark, tmp_path):
    """commit_txn advances the token with no data movement, conflicts
    retry, and replays are skipped."""
    t = TxLogTable(str(tmp_path / "meta_tx"))
    df = spark.createDataFrame([(1,), (2,)], "a long")
    t.append(df)
    files = set(t.snapshot().files)
    v = t.commit_txn(("ivm", 7))
    assert v == 1
    assert set(t.snapshot().files) == files
    assert t.read(spark).count() == 2
    assert t.last_txn_version("ivm") == 7
    # replay: no new commit
    assert t.commit_txn(("ivm", 7)) == 1
    assert t.latest_version() == 1
    # works on an EMPTY table too (schema is None until data arrives)
    empty = TxLogTable(str(tmp_path / "meta_empty"))
    assert empty.commit_txn(("boot", 0)) == 0
    assert empty.last_txn_version("boot") == 0
