"""The optimistic-concurrency conflict matrix for read-modify-write
commits (delta_writer.commit_mutation / check_commit_conflicts):
interleaved winners are classified per the Delta rules — metadata
changes, delete/delete, delete/read, concurrent appends — and only
data-neutral commits (txn markers, commitInfo-only) rebase."""

from __future__ import annotations

import time

import pytest

from delta_lake_health_spark.sources import delta_writer as dw
from delta_lake_health_spark.sources import log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog


def _build(spark, t):
    df = spark.range(30).selectExpr("id", "CAST(id % 3 AS LONG) AS k")
    dw.write(spark, df.repartition(3), t)
    return DeltaLog(spark, t)


def _live(spark, t):
    return {a["path"] for a in log_replay.Snapshot(t)._live_adds()}


def _actions(op="DELETE"):
    return [dw._commit_info(op, {}, {})]


def test_rebase_over_txn_only_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    snap = log_replay.Snapshot(t)
    base = snap.version()
    # a replay-guard marker lands first: data-neutral, loser rebases
    dw._commit(t, base + 1, [{"txn": {"appId": "x", "version": 1}}])
    v = dw.commit_mutation(snap, _actions(), read_files=_live(spark, t))
    assert v == base + 2


def test_concurrent_append_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    snap = log_replay.Snapshot(t)
    dw.write(spark, spark.range(100, 110).selectExpr(
        "id", "CAST(id % 3 AS LONG) AS k"), t)
    with pytest.raises(dw.ConcurrentAppendException):
        dw.commit_mutation(snap, _actions(), read_files=_live(spark, t))


def test_concurrent_delete_delete_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    snap = log_replay.Snapshot(t)
    base = snap.version()
    victim = sorted(_live(spark, t))[0]
    now = int(time.time() * 1000)
    dw._commit(t, base + 1, [
        {"remove": {"path": victim, "deletionTimestamp": now,
                    "dataChange": True}},
    ])
    with pytest.raises(dw.ConcurrentDeleteDeleteException):
        dw.commit_mutation(
            snap, _actions(),
            read_files={victim}, removed_files={victim},
        )


def test_concurrent_delete_read_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    snap = log_replay.Snapshot(t)
    base = snap.version()
    victim = sorted(_live(spark, t))[0]
    now = int(time.time() * 1000)
    dw._commit(t, base + 1, [
        {"remove": {"path": victim, "deletionTimestamp": now,
                    "dataChange": True}},
    ])
    with pytest.raises(dw.ConcurrentDeleteReadException):
        # we read the victim but removed something else
        dw.commit_mutation(
            snap, _actions(), read_files={victim}, removed_files=set()
        )


def test_metadata_change_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    snap = log_replay.Snapshot(t)
    dw.set_constraint(spark, t, "pos", "id >= 0")  # metaData commit
    with pytest.raises(dw.MetadataChangedException):
        dw.commit_mutation(snap, _actions(), read_files=_live(spark, t))


def test_concurrent_dv_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    # the FIRST DV delete carries the protocol upgrade to table features,
    # so a loser interleaved with it sees a protocol change (Delta's
    # ProtocolChanged rule outranks the DV row-conflict rule)
    snap = log_replay.Snapshot(t)
    dw.delete_with_dv(spark, t, "id = 3")
    with pytest.raises(dw.MetadataChangedException):
        dw.commit_mutation(snap, _actions(), read_files=_live(spark, t))
    # subsequent DV deletes are protocol-quiet: the loser sees the
    # deletion vector itself
    snap = log_replay.Snapshot(t)
    dw.delete_with_dv(spark, t, "id = 5")
    with pytest.raises(dw.ConcurrentDeleteReadException):
        dw.commit_mutation(snap, _actions(), read_files=_live(spark, t))


def test_mutations_still_work_uncontended(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    dw.delete(spark, t, "id = 1")
    dw.update(spark, t, "id = 2", {"k": "9"})
    src = spark.createDataFrame([(3, 7)], "id long, k long")
    dw.merge(spark, t, src, ["id"])
    dw.delete_with_dv(spark, t, "id = 4")
    snap = {r.id: r.k for r in DeltaLog(spark, t).snapshot().collect()}
    assert 1 not in snap and 4 not in snap
    assert snap[2] == 9 and snap[3] == 7
    assert len(snap) == 28


def _rewrite_with_commit_midway(monkeypatch, commit):
    """Run ``commit`` once, between a rewrite's read and its commit: the
    first add action the rewrite builds (after its data write) fires it."""
    real, fired = dw._add_action, []

    def add_action(*a, **k):
        if not fired:
            fired.append(True)
            commit()
        return real(*a, **k)

    monkeypatch.setattr(dw, "_add_action", add_action)
    return fired


@pytest.mark.parametrize("rewrite", ["compact", "zorder_cluster"])
def test_rewrite_refuses_dv_delete_committed_midway(
    spark, tmp_path, monkeypatch, rewrite
):
    """A DV delete that commits while a maintenance rewrite runs soft-
    deletes rows the rewrite already copied into its new files: the
    rewrite must fail with a conflict, and the deleted rows stay
    deleted."""
    from delta_lake_health_spark.operators import maintenance

    t = str(tmp_path / "t")
    _build(spark, t)

    def dv_deletes():
        dw.delete_with_dv(spark, t, "id = 5")
        dw.delete_with_dv(spark, t, "id = 7")

    fired = _rewrite_with_commit_midway(monkeypatch, dv_deletes)
    with pytest.raises(dw.ConcurrentWriteConflict):
        if rewrite == "compact":
            maintenance.compact(spark, t)
        else:
            maintenance.zorder_cluster(spark, t, ["id", "k"])
    assert fired
    ids = {r.id for r in DeltaLog(spark, t).snapshot().collect()}
    assert ids == set(range(30)) - {5, 7}


def test_compact_rebases_over_blind_append_committed_midway(
    spark, tmp_path, monkeypatch
):
    """An append that lands while OPTIMIZE runs cannot change the rows
    OPTIMIZE rewrites (every add and remove it commits is
    dataChange=false): the compaction still commits, above the append,
    and both the appended and the compacted rows stay live."""
    from delta_lake_health_spark.operators import maintenance

    t = str(tmp_path / "t")
    _build(spark, t)
    base = dw.current_version(t)
    fired = _rewrite_with_commit_midway(
        monkeypatch,
        lambda: dw.write(spark, spark.range(100, 110).selectExpr(
            "id", "CAST(id % 3 AS LONG) AS k"), t),
    )
    out = maintenance.compact(spark, t)
    assert fired
    assert out["numRemovedFiles"] == 3 and not out.get("skipped")
    assert dw.current_version(t) == base + 2
    ids = sorted(r.id for r in DeltaLog(spark, t).snapshot().collect())
    assert ids == list(range(30)) + list(range(100, 110))


def _emptied(spark, t):
    """A table whose every file was removed: 0 live files, so an
    operation that reads it reads an EMPTY set of files."""
    _build(spark, t)
    dw.delete(spark, t, "true")
    assert not _live(spark, t)


def test_merge_into_empty_table_refuses_append_committed_midway(
    spark, tmp_path, monkeypatch
):
    """Reading an empty table is still a read: an append of the same key
    that lands behind MERGE's read must conflict, or the merge would
    insert the key a second time."""
    t = str(tmp_path / "t")
    _emptied(spark, t)
    fired = _rewrite_with_commit_midway(
        monkeypatch,
        lambda: dw.write(spark, spark.range(1, 2).selectExpr(
            "id", "CAST(0 AS LONG) AS k"), t),
    )
    with pytest.raises(dw.ConcurrentAppendException):
        dw.merge(spark, t, spark.range(1, 2).selectExpr(
            "id", "CAST(7 AS LONG) AS k"), ["id"])
    assert fired
    rows = [(r.id, r.k) for r in DeltaLog(spark, t).snapshot().collect()]
    assert rows == [(1, 0)]


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "CAST(id % 3 AS LONG) AS k")


def _ids(spark, t):
    return sorted(r.id for r in DeltaLog(spark, t).snapshot().collect())


# -- write() races a second writer ---------------------------------------------


def test_overwrite_keeps_an_append_committed_midway(
    spark, tmp_path, monkeypatch
):
    """An overwrite removes the files it read, not the files of an
    append that lands while it writes: both batches stay (Delta's
    WriteSerializable outcome for a blind append racing an overwrite)."""
    t = str(tmp_path / "t")
    _build(spark, t)
    fired = _rewrite_with_commit_midway(
        monkeypatch, lambda: dw.write(spark, _rows(spark, 100, 110), t)
    )
    dw.write(spark, _rows(spark, 50, 55), t, mode="overwrite")
    assert fired
    assert _ids(spark, t) == list(range(50, 55)) + list(range(100, 110))


@pytest.mark.parametrize("layout", ["schema", "partitioning"])
def test_relayout_overwrite_refuses_an_append_committed_midway(
    spark, tmp_path, monkeypatch, layout
):
    """An overwrite that replaces the schema or the partitioning cannot
    keep a racing append's files — they hold the old layout — so it
    raises, and the table keeps the winner's rows."""
    t = str(tmp_path / "t")
    _build(spark, t)
    fired = _rewrite_with_commit_midway(
        monkeypatch, lambda: dw.write(spark, _rows(spark, 100, 110), t)
    )
    with pytest.raises(dw.ConcurrentAppendException):
        if layout == "schema":
            dw.write(spark, spark.range(50, 55).selectExpr(
                "CAST(id AS STRING) AS s"), t, mode="overwrite")
        else:
            dw.write(spark, _rows(spark, 50, 55), t, mode="overwrite",
                     partition_by=["k"])
    assert fired
    assert _ids(spark, t) == list(range(30)) + list(range(100, 110))


@pytest.mark.parametrize("op", ["write", "merge"])
def test_racing_commit_of_the_same_txn_app_id_conflicts(
    spark, tmp_path, monkeypatch, op
):
    """Two attempts of one streaming batch: the one that commits second
    raises instead of committing the batch again. An empty attempt
    commits only its txn marker, which is still the batch's commit. A
    replay of the committed batch in sequence is skipped."""
    t = str(tmp_path / "t")
    _build(spark, t)

    def attempt(rows):
        if op == "write":
            return dw.write(spark, rows, t, txn_app_id="app", txn_version=1)
        return dw.merge(spark, t, rows, ["id"], txn_app_id="app",
                        txn_version=1)

    fired = _rewrite_with_commit_midway(
        monkeypatch, lambda: attempt(_rows(spark, 0, 0))
    )
    with pytest.raises(dw.ConcurrentTransactionException):
        attempt(_rows(spark, 100, 105))
    assert fired
    assert _ids(spark, t) == list(range(30))
    v = dw.current_version(t)
    assert attempt(_rows(spark, 100, 105)) == v
    assert dw.current_version(t) == v


def test_append_refuses_protocol_change_committed_midway(
    spark, tmp_path, monkeypatch
):
    """A protocol-only commit behind a blind append: the append checked
    the writer protocol it read, so it raises (Delta's
    ProtocolChangedException) instead of rebasing over the new one."""
    t = str(tmp_path / "t")
    _build(spark, t)

    def upgrade():
        snap = log_replay.Snapshot(t)
        dw.commit_mutation(snap, [
            dw._protocol_upgrade_action(snap, "domainMetadata"),
            dw._commit_info("UPGRADE PROTOCOL", {}, {}),
        ])

    fired = _rewrite_with_commit_midway(monkeypatch, upgrade)
    with pytest.raises(dw.MetadataChangedException):
        dw.write(spark, _rows(spark, 100, 110), t)
    assert fired
    assert _ids(spark, t) == list(range(30))


def test_racing_table_creation_conflicts(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    fired = _rewrite_with_commit_midway(
        monkeypatch, lambda: dw.write(spark, _rows(spark, 100, 103), t)
    )
    with pytest.raises(dw.MetadataChangedException):
        dw.write(spark, _rows(spark, 0, 5), t)
    assert fired
    assert _ids(spark, t) == [100, 101, 102]


# -- table-state changes race a second writer ---------------------------------


def _commit_midway(monkeypatch, commit):
    """Run ``commit`` once, after an operation's checks and before its
    commit: the first commitInfo the operation builds fires it."""
    real, fired = dw._commit_info, []

    def commit_info(*a, **k):
        if not fired:
            fired.append(True)
            commit()
        return real(*a, **k)

    monkeypatch.setattr(dw, "_commit_info", commit_info)
    return fired


@pytest.mark.parametrize("table", ["built", "emptied"])
def test_constraint_refuses_violating_append_committed_midway(
    spark, tmp_path, monkeypatch, table
):
    """A row appended behind ADD CONSTRAINT's validation scan: the
    constraint must not be declared over a table that breaks it. The
    scan of an emptied table read no rows but still read the table."""
    t = str(tmp_path / "t")
    (_build if table == "built" else _emptied)(spark, t)
    fired = _commit_midway(
        monkeypatch,
        lambda: dw.write(spark, spark.range(-5, -4).selectExpr(
            "id", "CAST(id % 3 AS LONG) AS k"), t),
    )
    with pytest.raises(dw.ConcurrentAppendException):
        dw.set_constraint(spark, t, "pos", "id >= 0")
    assert fired
    config = DeltaLog(spark, t).metadata()["configuration"]
    assert "delta.constraints.pos" not in config


def test_racing_property_sets_keep_the_winner(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _build(spark, t)
    fired = _commit_midway(
        monkeypatch, lambda: dw.set_table_property(spark, t, "b", "2")
    )
    with pytest.raises(dw.MetadataChangedException):
        dw.set_table_property(spark, t, "a", "1")
    assert fired
    config = DeltaLog(spark, t).metadata()["configuration"]
    assert config.get("b") == "2" and "a" not in config


@pytest.mark.parametrize("racer", ["append", "dv_delete"])
def test_property_set_commits_above_a_racing_data_change(
    spark, tmp_path, monkeypatch, racer
):
    """SET TBLPROPERTIES reads no rows, so neither an append nor a
    deletion vector is a conflict: the property commit rebases above
    the racing commit and both survive."""
    t = str(tmp_path / "t")
    _build(spark, t)
    # the first DV delete upgrades the protocol; the racing one does not
    dw.delete_with_dv(spark, t, "id = 3")
    base = dw.current_version(t)
    fired = _commit_midway(
        monkeypatch,
        {
            "append": lambda: dw.write(spark, spark.range(100, 110).selectExpr(
                "id", "CAST(id % 3 AS LONG) AS k"), t),
            "dv_delete": lambda: dw.delete_with_dv(spark, t, "id = 5"),
        }[racer],
    )
    assert dw.set_table_property(spark, t, "a", "1") == base + 2
    assert fired
    log = DeltaLog(spark, t)
    assert log.metadata()["configuration"]["a"] == "1"
    ids = {r.id for r in log.snapshot().collect()}
    assert ids == {
        "append": set(range(30)) - {3} | set(range(100, 110)),
        "dv_delete": set(range(30)) - {3, 5},
    }[racer]


def test_drop_dv_feature_refuses_dv_delete_committed_midway(
    spark, tmp_path, monkeypatch
):
    """A DV delete behind DROP FEATURE's liveness check: the protocol
    must keep deletionVectors while a live vector hides a row."""
    from delta_lake_health_spark.operators import maintenance

    t = str(tmp_path / "t")
    _build(spark, t)
    dw.delete_with_dv(spark, t, "id = 3")
    maintenance.apply_deletion_vectors(spark, t)
    fired = _commit_midway(
        monkeypatch, lambda: dw.delete_with_dv(spark, t, "id = 5")
    )
    with pytest.raises(dw.ConcurrentWriteConflict):
        dw.drop_feature(spark, t, "deletionVectors")
    assert fired
    p = DeltaLog(spark, t).protocol()
    assert "deletionVectors" in p["readerFeatures"]
    assert "deletionVectors" in p["writerFeatures"]
    ids = {r.id for r in DeltaLog(spark, t).snapshot().collect()}
    assert ids == set(range(30)) - {3, 5}


def test_racing_sync_markers_keep_the_winner(spark, tmp_path, monkeypatch):
    """Two CDC sync markers for different sources on one target both
    rewrite the delta.cdcSync domain: the loser raises instead of
    dropping the winner's entry."""
    from delta_lake_health_spark.operators import sync

    t = str(tmp_path / "t")
    _build(spark, t)
    # the first marker upgrades the protocol; the racing two do not
    sync._record_synced(spark, t, "/src/c", 1)
    fired = _commit_midway(
        monkeypatch, lambda: sync._record_synced(spark, t, "/src/b", 7)
    )
    with pytest.raises(dw.MetadataChangedException):
        sync._record_synced(spark, t, "/src/a", 5)
    assert fired
    marks = DeltaLog(spark, t).domain_metadata(sync.SYNC_DOMAIN)
    assert marks == {"/src/c": 1, "/src/b": 7}


def test_racing_copy_into_loads_every_file_once(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "t")
    _build(spark, t)
    # a first load upgrades the protocol; the racing two do not
    first, src = str(tmp_path / "first"), str(tmp_path / "src")
    spark.range(300, 302).selectExpr("id", "CAST(id % 3 AS LONG) AS k") \
        .coalesce(1).write.parquet(first)
    dw.copy_into(spark, t, first, "*.parquet")
    spark.range(200, 206).selectExpr("id", "CAST(id % 3 AS LONG) AS k") \
        .repartition(2).write.parquet(src)
    fired = _commit_midway(
        monkeypatch, lambda: dw.copy_into(spark, t, src, "*.parquet")
    )
    with pytest.raises(dw.ConcurrentWriteConflict):
        dw.copy_into(spark, t, src, "*.parquet")
    assert fired
    ids = sorted(r.id for r in DeltaLog(spark, t).snapshot().collect())
    assert ids == list(range(30)) + list(range(200, 206)) + [300, 301]


def test_commit_is_put_if_absent(spark, tmp_path, monkeypatch):
    """A writer that found no file at its version (it looked before the
    other writer published) still cannot replace the published commit:
    the second publish raises and the first commit's bytes stay."""
    import os

    t = str(tmp_path / "t")
    _build(spark, t)
    v = dw.current_version(t)
    path = log_replay.commit_path(t, v)
    with open(path, "rb") as f:
        first = f.read()
    real = os.path.exists
    monkeypatch.setattr(os.path, "exists", lambda p: p != path and real(p))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        dw._commit(t, v, _actions("WRITE"))
    monkeypatch.undo()
    with open(path, "rb") as f:
        assert f.read() == first
    assert not [n for n in os.listdir(os.path.dirname(path)) if ".tmp-" in n]


def test_commit_without_hard_links_names_the_requirement(
    spark, tmp_path, monkeypatch
):
    """A filesystem that refuses hard links cannot give put-if-absent
    commits: the commit fails with an error saying so, not a bare OSError
    or a commit without the guarantee."""
    import errno
    import os

    t = str(tmp_path / "t")
    _build(spark, t)
    v = dw.current_version(t)

    def no_link(src, dst):
        raise OSError(errno.EPERM, "Operation not permitted")

    monkeypatch.setattr(os, "link", no_link)
    with pytest.raises(OSError, match="put-if-absent .*hard links"):
        dw._commit(t, v + 1, _actions("WRITE"))
    monkeypatch.undo()
    assert dw.current_version(t) == v
    log_dir = os.path.join(t, "_delta_log")
    assert not [n for n in os.listdir(log_dir) if ".tmp-" in n]


def test_second_dv_delete_from_one_base_conflicts(spark, tmp_path, monkeypatch):
    """Two DV deletes read at one base each write their own sidecar, so
    the second reaches the conflict check: it raises, and the rows the
    first one deleted stay deleted."""
    t = str(tmp_path / "t")
    _build(spark, t)
    # the first DV delete upgrades the protocol; the racing two do not
    dw.delete_with_dv(spark, t, "id = 3")
    fired = _commit_midway(
        monkeypatch, lambda: dw.delete_with_dv(spark, t, "id = 5")
    )
    with pytest.raises(dw.ConcurrentWriteConflict):
        dw.delete_with_dv(spark, t, "id = 7")
    assert fired
    assert _ids(spark, t) == sorted(set(range(30)) - {3, 5})
