"""The optimistic-concurrency conflict matrix for read-modify-write
commits (delta_writer.commit_mutation / check_commit_conflicts):
interleaved winners are classified per the Delta rules — metadata
changes, delete/delete, delete/read, concurrent appends — and only
data-neutral commits (txn markers, commitInfo-only) rebase."""

from __future__ import annotations

import time

import pytest

from delta_lake_health_spark.sources import delta_writer as dw
from delta_lake_health_spark.sources.delta_log import DeltaLog


def _build(spark, t):
    df = spark.range(30).selectExpr("id", "CAST(id % 3 AS LONG) AS k")
    dw.write(spark, df.repartition(3), t)
    return DeltaLog(spark, t)


def _live(spark, t):
    return {p for p in dw._active_rel_paths(spark, t)}


def _actions(op="DELETE"):
    return [dw._commit_info(op, {}, {})]


def test_rebase_over_txn_only_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    base = dw.current_version(t)
    # a replay-guard marker lands first: data-neutral, loser rebases
    dw._commit(t, base + 1, [{"txn": {"appId": "x", "version": 1}}])
    v = dw.commit_mutation(t, base, _actions(), read_files=_live(spark, t))
    assert v == base + 2


def test_concurrent_append_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    base = dw.current_version(t)
    dw.write(spark, spark.range(100, 110).selectExpr(
        "id", "CAST(id % 3 AS LONG) AS k"), t)
    with pytest.raises(dw.ConcurrentAppendException):
        dw.commit_mutation(t, base, _actions(), read_files=_live(spark, t))


def test_concurrent_delete_delete_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    base = dw.current_version(t)
    victim = sorted(_live(spark, t))[0]
    now = int(time.time() * 1000)
    dw._commit(t, base + 1, [
        {"remove": {"path": victim, "deletionTimestamp": now,
                    "dataChange": True}},
    ])
    with pytest.raises(dw.ConcurrentDeleteDeleteException):
        dw.commit_mutation(
            t, base, _actions(),
            read_files={victim}, removed_files={victim},
        )


def test_concurrent_delete_read_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    base = dw.current_version(t)
    victim = sorted(_live(spark, t))[0]
    now = int(time.time() * 1000)
    dw._commit(t, base + 1, [
        {"remove": {"path": victim, "deletionTimestamp": now,
                    "dataChange": True}},
    ])
    with pytest.raises(dw.ConcurrentDeleteReadException):
        # we read the victim but removed something else
        dw.commit_mutation(
            t, base, _actions(), read_files={victim}, removed_files=set()
        )


def test_metadata_change_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    base = dw.current_version(t)
    dw.set_constraint(spark, t, "pos", "id >= 0")  # metaData commit
    with pytest.raises(dw.MetadataChangedException):
        dw.commit_mutation(t, base, _actions(), read_files=_live(spark, t))


def test_concurrent_dv_conflicts(spark, tmp_path):
    t = str(tmp_path / "t")
    _build(spark, t)
    # the FIRST DV delete carries the protocol upgrade to table features,
    # so a loser interleaved with it sees a protocol change (Delta's
    # ProtocolChanged rule outranks the DV row-conflict rule)
    base = dw.current_version(t)
    dw.delete_with_dv(spark, t, "id = 3")
    with pytest.raises(dw.MetadataChangedException):
        dw.commit_mutation(t, base, _actions(), read_files=_live(spark, t))
    # subsequent DV deletes are protocol-quiet: the loser sees the
    # deletion vector itself
    base = dw.current_version(t)
    dw.delete_with_dv(spark, t, "id = 5")
    with pytest.raises(dw.ConcurrentDeleteReadException):
        dw.commit_mutation(t, base, _actions(), read_files=_live(spark, t))


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
