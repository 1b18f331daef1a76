"""APPLY CHANGES CDC replication — operators/sync.py.

Invariant under test: after every sync cycle, the target snapshot
equals the source snapshot exactly (same rows, any operation mix),
while the sync only reads the new commits' changes. Plus: first-call
seeding, no-op re-sync, and marker advancement.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_health_spark.operators.sync import apply_changes
from delta_lake_health_spark.sources import delta_writer
from delta_lake_health_spark.sources.delta_log import DeltaLog


def _rows(spark, path):
    return {
        (r.id, r.v)
        for r in DeltaLog(spark, path).snapshot().select("id", "v").collect()
    }


@pytest.fixture()
def pair(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    delta_writer.write(
        spark,
        spark.range(0, 100).selectExpr("id", "CAST(id * 2 AS BIGINT) AS v"),
        src,
    )
    return src, dst


def test_seed_then_incremental_sync(spark, pair):
    src, dst = pair
    m = apply_changes(spark, src, dst, ["id"])
    assert m["seeded"] and m["numUpserts"] == 100
    assert _rows(spark, dst) == _rows(spark, src)

    # append + re-sync reads only the new commit
    delta_writer.write(
        spark,
        spark.range(100, 120).selectExpr("id", "CAST(id * 2 AS BIGINT) AS v"),
        src,
    )
    m = apply_changes(spark, src, dst, ["id"])
    assert not m["seeded"] and m["numUpserts"] == 20 and m["numDeletes"] == 0
    assert _rows(spark, dst) == _rows(spark, src)


def test_update_delete_merge_mix(spark, pair):
    src, dst = pair
    apply_changes(spark, src, dst, ["id"])
    # an UPDATE (delete+insert in the feed), a DV delete, and a MERGE
    delta_writer.update(spark, src, "id < 10", {"v": "v + 1000"})
    delta_writer.delete_with_dv(spark, src, "id BETWEEN 50 AND 59")
    delta_writer.merge(
        spark,
        src,
        spark.range(95, 105).selectExpr("id", "CAST(id * 7 AS BIGINT) AS v"),
        ["id"],
    )
    m = apply_changes(spark, src, dst, ["id"])
    assert m["numDeletes"] == 10
    assert _rows(spark, dst) == _rows(spark, src)
    # spot semantics: updated, merged-updated, merged-inserted, deleted
    got = dict(_rows(spark, dst))
    assert got[5] == 5 * 2 + 1000
    assert got[97] == 97 * 7
    assert got[104] == 104 * 7
    assert 55 not in got


def test_resync_is_noop(spark, pair):
    src, dst = pair
    apply_changes(spark, src, dst, ["id"])
    v_dst = delta_writer.current_version(dst)
    m = apply_changes(spark, src, dst, ["id"])
    assert m["numUpserts"] == 0 and m["numDeletes"] == 0
    assert delta_writer.current_version(dst) == v_dst  # nothing committed


def test_delete_only_cycle(spark, pair):
    src, dst = pair
    apply_changes(spark, src, dst, ["id"])
    delta_writer.delete_with_dv(spark, src, "id % 10 = 0")
    m = apply_changes(spark, src, dst, ["id"])
    assert m["numUpserts"] == 0 and m["numDeletes"] == 10
    assert _rows(spark, dst) == _rows(spark, src)
    assert DeltaLog(spark, dst).snapshot().count() == 90


def test_multi_cycle_convergence(spark, pair):
    src, dst = pair
    for step in range(3):
        if step:
            delta_writer.update(
                spark, src, f"id % 7 = {step}", {"v": f"v + {step * 100}"}
            )
            delta_writer.delete_with_dv(spark, src, f"id % 31 = {step}")
        apply_changes(spark, src, dst, ["id"])
        assert _rows(spark, dst) == _rows(spark, src), step


def test_apply_changes_cdf_enabled_source(spark, pair):
    """A source with delta.enableChangeDataFeed writes true CDC files —
    update commits feed update_preimage/update_postimage rows instead of
    the reconstructed delete+insert pair. The fold must normalize them
    (postimage = upsert, preimage = noise) or updates would be lost."""
    src, dst = pair
    delta_writer.set_table_property(
        spark, src, "delta.enableChangeDataFeed", "true"
    )
    apply_changes(spark, src, dst, ["id"])
    delta_writer.update(spark, src, "id < 10", {"v": "v + 1000"})
    delta_writer.delete_with_dv(spark, src, "id BETWEEN 50 AND 54")
    m = apply_changes(spark, src, dst, ["id"])
    assert m["numUpserts"] == 10 and m["numDeletes"] == 5
    assert _rows(spark, dst) == _rows(spark, src)
    got = dict(_rows(spark, dst))
    assert got[5] == 5 * 2 + 1000
    assert 52 not in got


@pytest.mark.slow
def test_stream_apply_changes_multi_batch_convergence(spark, pair, tmp_path):
    """D46 + D72 composed: delta_tail readChangeFeed -> foreachBatch
    apply_net_changes. One drain per source mutation through the SAME
    checkpoint (the triggered-incremental medallion shape): the silver
    table must converge to snapshot equality after every micro-batch,
    across seed, update, DV-delete, and merge commits — and each drain
    reads only the new commits (offsets advance one batch at a time)."""
    import os

    from delta_lake_health_spark.streaming.jobs import stream_apply_changes

    src, dst = pair
    ckpt = str(tmp_path / "ckpt")
    delta_writer.set_table_property(
        spark, src, "delta.enableChangeDataFeed", "true"
    )
    # drain 1: seed commits
    stream_apply_changes(spark, src, dst, ["id"], ckpt)
    assert _rows(spark, dst) == _rows(spark, src)

    # one mutating commit per drain -> one micro-batch each, resumed
    # from the checkpoint every time
    delta_writer.update(spark, src, "id < 10", {"v": "v + 1000"})
    stream_apply_changes(spark, src, dst, ["id"], ckpt)
    assert _rows(spark, dst) == _rows(spark, src)

    delta_writer.delete_with_dv(spark, src, "id BETWEEN 50 AND 59")
    stream_apply_changes(spark, src, dst, ["id"], ckpt)
    assert _rows(spark, dst) == _rows(spark, src)

    delta_writer.merge(
        spark,
        src,
        spark.range(95, 105).selectExpr("id", "CAST(id * 7 AS BIGINT) AS v"),
        ["id"],
    )
    stream_apply_changes(spark, src, dst, ["id"], ckpt)
    assert _rows(spark, dst) == _rows(spark, src)
    got = dict(_rows(spark, dst))
    assert got[5] == 5 * 2 + 1000
    assert got[97] == 97 * 7 and got[104] == 104 * 7
    assert 55 not in got
    # four distinct micro-batches went through the one checkpoint
    offsets = [f for f in os.listdir(os.path.join(ckpt, "offsets"))
               if f.isdigit()]
    assert len(offsets) >= 4

    # final drain: no new commits -> no-op, nothing committed
    v_dst = delta_writer.current_version(dst)
    stream_apply_changes(spark, src, dst, ["id"], ckpt)
    assert delta_writer.current_version(dst) == v_dst
    assert _rows(spark, dst) == _rows(spark, src)


@pytest.mark.slow
def test_stream_apply_changes_paced_drain(spark, pair, tmp_path):
    """The timed-trigger path: a 3-commit backlog drained with
    maxVersionsPerTrigger=1 through processingTime triggers still
    converges (pacing splits the catch-up; the fold is per-batch)."""
    from delta_lake_health_spark.streaming.jobs import stream_apply_changes

    src, dst = pair
    ckpt = str(tmp_path / "ckpt_paced")
    delta_writer.set_table_property(
        spark, src, "delta.enableChangeDataFeed", "true"
    )
    stream_apply_changes(spark, src, dst, ["id"], ckpt)
    delta_writer.update(spark, src, "id < 10", {"v": "v + 1000"})
    delta_writer.delete_with_dv(spark, src, "id BETWEEN 50 AND 59")
    delta_writer.merge(
        spark,
        src,
        spark.range(95, 105).selectExpr("id", "CAST(id * 7 AS BIGINT) AS v"),
        ["id"],
    )
    stream_apply_changes(
        spark, src, dst, ["id"], ckpt,
        processing_time="100 milliseconds",
        maxversionspertrigger=1,
    )
    assert _rows(spark, dst) == _rows(spark, src)


def test_stream_apply_changes_replay_safe(spark, pair):
    """Forced-restart semantics: a micro-batch re-delivered after a
    crash between sink-commit and checkpoint-advance (same batch_id)
    must leave the target unchanged — the merge half is skipped by its
    txn guard, the delete half finds no positions."""
    from delta_lake_health_spark.operators.sync import apply_net_changes
    from delta_lake_health_spark.sources.cdf import table_changes

    src, dst = pair
    apply_changes(spark, src, dst, ["id"])
    delta_writer.update(spark, src, "id < 5", {"v": "v + 1000"})
    delta_writer.delete_with_dv(spark, src, "id BETWEEN 90 AND 94")
    changes = table_changes(spark, src, 1, delta_writer.current_version(src))

    m1 = apply_net_changes(
        spark, dst, changes, ["id"], txn_app_id="ckpt", txn_version=1
    )
    # >= 5 upserts: the log-reconstructed feed re-emits every row of a
    # rewritten file as insert, so the exact count is layout-dependent
    assert m1["numUpserts"] >= 5 and m1["numDeletes"] == 5
    assert _rows(spark, dst) == _rows(spark, src)
    v_after = delta_writer.current_version(dst)

    # the replay: same batch (same txn_version) delivered again
    m2 = apply_net_changes(
        spark, dst, changes, ["id"], txn_app_id="ckpt", txn_version=1
    )
    assert _rows(spark, dst) == _rows(spark, src)
    # no data-changing commit landed (the DV probe found 0 positions and
    # the merge was skipped by the txn guard)
    assert delta_writer.current_version(dst) == v_after


def test_net_delete_refused_on_append_only_target(spark, tmp_path):
    """The sync's DV delete is DELETE: an append-only target refuses it,
    like delete_with_dv, and stays unchanged."""
    from delta_lake_health_spark.operators.sync import apply_net_changes

    dst = str(tmp_path / "dst")
    delta_writer.write(
        spark, spark.range(10).selectExpr("id", "CAST(id * 2 AS BIGINT) AS v"), dst
    )
    delta_writer.set_table_property(spark, dst, "delta.appendOnly", "true")
    v = delta_writer.current_version(dst)
    changes = spark.createDataFrame(
        [(3, 6, "delete", 1)], "id long, v long, _change_type string, _commit_version long"
    )
    with pytest.raises(ValueError, match="append-only"):
        apply_net_changes(spark, dst, changes, ["id"])
    assert delta_writer.current_version(dst) == v
    assert DeltaLog(spark, dst).snapshot().count() == 10
