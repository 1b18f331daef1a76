"""Delta row tracking (writer feature ``rowTracking``): fresh row ids
assigned centrally at commit time (add.baseRowId + physical row index),
high-water mark in the ``delta.rowTracking`` domainMetadata, backfill on
enable, checkpoint survival, and DV-delete stability.

Cites the Delta protocol spec's Row Tracking section (delta-io/delta
PROTOCOL.md): fresh row ids are [baseRowId, baseRowId + numRecords - 1];
the high-water mark rides domainMetadata; rewrites reassign fresh ids
(stable-id materialization is out of scope and documented as such).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "CAST(id % 7 AS BIGINT) AS k"
    )


@pytest.fixture()
def table(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/rt"
    yield path
    shutil.rmtree(tmp, ignore_errors=True)


def _ids(spark, path):
    return {
        r.id: r._row_id
        for r in DeltaLog(spark, path).row_ids().select("id", "_row_id").collect()
    }


def test_fresh_ids_unique_and_contiguous(spark, table):
    delta_writer.write(spark, _df(spark, 0, 100).repartition(4), table)
    delta_writer.enable_row_tracking(spark, table)
    delta_writer.write(spark, _df(spark, 100, 150).repartition(2), table)

    log = DeltaLog(spark, table)
    rows = log.row_ids().select("id", "_row_id", "_row_commit_version").collect()
    assert len(rows) == 150
    ids = [r._row_id for r in rows]
    assert None not in ids
    assert len(set(ids)) == 150  # globally unique
    assert sorted(ids) == list(range(150))  # contiguous from 0, no holes
    assert log.row_id_high_water_mark() == 149
    # backfilled rows carry the backfill commit's version; new rows the
    # append's
    vs = {r._row_commit_version for r in rows}
    assert len(vs) == 2


def test_enable_backfills_existing_rows_once(spark, table):
    delta_writer.write(spark, _df(spark, 0, 60).repartition(3), table)
    v = delta_writer.enable_row_tracking(spark, table)
    assert v == delta_writer.current_version(table)
    ids = _ids(spark, table)
    assert len(ids) == 60 and sorted(ids.values()) == list(range(60))
    # idempotent: enabling again is a no-op commit-wise
    v2 = delta_writer.enable_row_tracking(spark, table)
    assert v2 == v
    assert _ids(spark, table) == ids


def test_dv_delete_keeps_survivor_ids_stable(spark, table):
    delta_writer.write(spark, _df(spark, 0, 100).repartition(2), table)
    delta_writer.enable_row_tracking(spark, table)
    before = _ids(spark, table)
    delta_writer.delete_with_dv(spark, table, "id % 10 = 0")
    after = _ids(spark, table)
    assert len(after) == 90
    for k, rid in after.items():
        assert before[k] == rid  # survivors keep their exact id
    # hwm untouched: a DV delete assigns no new ids
    assert DeltaLog(spark, table).row_id_high_water_mark() == 99


def test_append_after_delete_does_not_reuse_ids(spark, table):
    delta_writer.write(spark, _df(spark, 0, 50).repartition(1), table)
    delta_writer.enable_row_tracking(spark, table)
    delta_writer.delete(spark, table, "id >= 40")  # rewrites the file
    delta_writer.write(spark, _df(spark, 1000, 1010).repartition(1), table)
    ids = _ids(spark, table)
    assert len(ids) == 50
    assert len(set(ids.values())) == 50  # never-reused, still unique
    # the rewrite got fresh ids ABOVE the original hwm (spec: fresh ids)
    assert DeltaLog(spark, table).row_id_high_water_mark() >= 59


def test_hwm_and_ids_survive_checkpoint(spark, table):
    delta_writer.write(spark, _df(spark, 0, 80).repartition(2), table)
    delta_writer.enable_row_tracking(spark, table)
    before = _ids(spark, table)
    log = DeltaLog(spark, table)
    log.checkpoint()
    # post-checkpoint reader resolves the same ids and hwm (checkpoint
    # folds the latest domainMetadata per domain)
    log2 = DeltaLog(spark, table)
    assert log2.last_checkpoint() is not None
    assert _ids(spark, table) == before
    assert log2.row_id_high_water_mark() == 79
    # the driver-side hwm gate also reads through the checkpoint
    hwm = log_replay.Snapshot(table).domain_metadata("delta.rowTracking")
    assert hwm["rowIdHighWaterMark"] == 79
    # and a post-checkpoint append continues above it
    delta_writer.write(spark, _df(spark, 80, 90).repartition(1), table)
    assert DeltaLog(spark, table).row_id_high_water_mark() == 89


def test_compact_reassigns_fresh_ids_keeps_uniqueness(spark, table):
    for b in range(3):
        delta_writer.write(
            spark, _df(spark, 30 * b, 30 * (b + 1)).repartition(3), table
        )
    delta_writer.enable_row_tracking(spark, table)
    out = maintenance.compact(spark, table, small_file_size=1 << 30)
    assert out["numRemovedFiles"] > 0
    ids = _ids(spark, table)
    assert len(ids) == 90 and len(set(ids.values())) == 90
    # rewritten rows sit above the pre-compact hwm; hwm advanced
    assert DeltaLog(spark, table).row_id_high_water_mark() >= 90 + 89


def test_checksum_not_inflated_by_backfill(spark, table):
    """The backfill commit re-adds live files; the paired same-version
    removes keep the incremental .crc numFiles/tableSizeBytes exact."""
    delta_writer.write(spark, _df(spark, 0, 40).repartition(2), table)
    detail_before = DeltaLog(spark, table).detail()
    delta_writer.enable_row_tracking(spark, table)
    detail_after = DeltaLog(spark, table).detail()
    assert detail_after["numFiles"] == detail_before["numFiles"]
    assert detail_after["sizeInBytes"] == detail_before["sizeInBytes"]


def test_untracked_table_row_ids_are_null(spark, table):
    delta_writer.write(spark, _df(spark, 0, 10), table)
    rows = DeltaLog(spark, table).row_ids().select("_row_id").collect()
    assert all(r._row_id is None for r in rows)
    assert DeltaLog(spark, table).row_id_high_water_mark() == -1


def test_clone_of_tracked_table_restarts_cleanly(spark, table):
    """A shallow clone starts without rowTracking; source ids are
    stripped, and enabling tracking on the clone assigns a clean,
    collision-free id space."""
    delta_writer.write(spark, _df(spark, 0, 40).repartition(2), table)
    delta_writer.enable_row_tracking(spark, table)
    clone = table + "_clone"
    delta_writer.clone_shallow(spark, table, clone)
    log = DeltaLog(spark, clone)
    assert log.row_id_high_water_mark() == -1
    assert all(
        r._row_id is None
        for r in log.row_ids().select("_row_id").collect()
    )
    delta_writer.enable_row_tracking(spark, clone)
    ids = _ids(spark, clone)
    assert sorted(ids.values()) == list(range(40))
