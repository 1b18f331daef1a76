"""ALTER TABLE DROP FEATURE + Optimized Write (delta_writer).

DROP FEATURE: the REORG PURGE -> drop deletionVectors downgrade path,
refusal while live DV positions remain, columnMapping refusal while
renames still map, writer-only bookkeeping features drop freely.
Optimized Write: `delta.autoOptimize.optimizeWrite` coalesces a
many-partition small batch into target-sized files at ingest; large
batches keep their parallelism; the property off = old behavior.
"""

from __future__ import annotations

import pytest

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog


def _features(spark, path):
    p = DeltaLog(spark, path).protocol()
    return set(p["readerFeatures"]) | set(p["writerFeatures"])


def test_drop_dv_feature_after_reorg(spark, tmp_path):
    path = str(tmp_path / "t")
    delta_writer.write(
        spark, spark.range(0, 200).selectExpr("id", "id % 5 AS k"), path
    )
    delta_writer.delete_with_dv(spark, path, "k = 3")
    assert "deletionVectors" in _features(spark, path)
    # refused while live DV positions remain
    with pytest.raises(ValueError, match="reorg_purge first"):
        delta_writer.drop_feature(spark, path, "deletionVectors")
    maintenance.reorg_purge(spark, path)
    v = delta_writer.drop_feature(spark, path, "deletionVectors")
    assert "deletionVectors" not in _features(spark, path)
    assert v == delta_writer.current_version(path)
    # table still reads correctly and accepts plain writes
    assert DeltaLog(spark, path).snapshot().count() == 160
    delta_writer.write(
        spark, spark.range(500, 510).selectExpr("id", "id % 5 AS k"), path
    )
    assert DeltaLog(spark, path).snapshot().count() == 170


def test_drop_column_mapping_refused_while_renamed(spark, tmp_path):
    path = str(tmp_path / "t2")
    delta_writer.write(
        spark, spark.range(0, 50).selectExpr("id", "id * 2 AS v"), path
    )
    delta_writer.rename_column(spark, path, "v", "val")
    assert "columnMapping" in _features(spark, path) or (
        DeltaLog(spark, path).protocol()["minWriterVersion"] == 5
    )
    if "columnMapping" in _features(spark, path):
        with pytest.raises(ValueError, match="physical names"):
            delta_writer.drop_feature(spark, path, "columnMapping")


def test_drop_writer_only_feature(spark, tmp_path):
    path = str(tmp_path / "t3")
    delta_writer.write(spark, spark.range(0, 50).selectExpr("id"), path)
    delta_writer.enable_row_tracking(spark, path)
    assert "rowTracking" in _features(spark, path)
    delta_writer.drop_feature(spark, path, "rowTracking")
    assert "rowTracking" not in _features(spark, path)
    with pytest.raises(ValueError, match="does not declare"):
        delta_writer.drop_feature(spark, path, "rowTracking")


def test_drop_change_data_feed_clears_property(spark, tmp_path):
    """Dropping changeDataFeed must clear delta.enableChangeDataFeed in
    the SAME commit as the protocol downgrade — otherwise post-drop
    writes would keep producing _change_data files the downgraded
    protocol no longer declares."""
    path = str(tmp_path / "cdf")
    delta_writer.write(spark, spark.range(0, 50).selectExpr("id"), path)
    delta_writer.set_table_property(
        spark, path, "delta.enableChangeDataFeed", "true"
    )
    # foreign-writer style: a features protocol declaring changeDataFeed
    delta_writer._commit(
        path,
        delta_writer.current_version(path) + 1,
        [
            {
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": 7,
                    "writerFeatures": [
                        "appendOnly", "changeDataFeed", "invariants",
                    ],
                }
            },
            delta_writer._commit_info(
                "UPGRADE PROTOCOL", {"feature": "changeDataFeed"}, {}
            ),
        ],
    )
    assert "changeDataFeed" in _features(spark, path)
    v = delta_writer.drop_feature(spark, path, "changeDataFeed")
    assert "changeDataFeed" not in _features(spark, path)
    log = DeltaLog(spark, path)
    assert "delta.enableChangeDataFeed" not in log.metadata()["configuration"]
    # protocol downgrade and property-clear landed in ONE commit
    acts = log_replay.read_commit(path, v)
    assert any("protocol" in a for a in acts)
    assert any("metaData" in a for a in acts)
    assert log.snapshot().count() == 50


def test_drop_v2_checkpoint_rewrites_classic(spark, tmp_path):
    """Dropping v2Checkpoint while _last_checkpoint points at a V2
    (UUID + sidecar) checkpoint must first rewrite the checkpoint in the
    classic layout — a downgraded reader must never resolve
    _last_checkpoint to a layout its protocol doesn't know."""
    path = str(tmp_path / "v2")
    delta_writer.write(
        spark, spark.range(0, 100).selectExpr("id", "id % 3 AS k"), path
    )
    DeltaLog(spark, path).checkpoint(format="v2")
    assert "v2Checkpoint" in _features(spark, path)
    assert DeltaLog(spark, path).last_checkpoint_info()["format"] == "v2"
    delta_writer.drop_feature(spark, path, "v2Checkpoint")
    assert "v2Checkpoint" not in _features(spark, path)
    info = DeltaLog(spark, path).last_checkpoint_info()
    assert info is not None and info.get("format") != "v2"
    assert "path" not in info  # classic layout, no UUID top-level file
    # snapshot reconstructs through the classic checkpoint
    assert DeltaLog(spark, path).snapshot().count() == 100


def _n_files_in_last_commit(path):
    v = delta_writer.current_version(path)
    return sum(
        1 for a in log_replay.read_commit(path, v) if "add" in a
    )


def test_optimize_write_coalesces_small_batches(spark, tmp_path):
    path = str(tmp_path / "ow")
    delta_writer.write(
        spark, spark.range(0, 1000).selectExpr("id").coalesce(1), path
    )
    delta_writer.set_table_property(
        spark, path, "delta.autoOptimize.optimizeWrite", "true"
    )
    # a tiny batch arriving in 16 partitions lands as ONE file
    delta_writer.write(
        spark,
        spark.range(1000, 2000).selectExpr("id").repartition(16),
        path,
    )
    assert _n_files_in_last_commit(path) == 1
    assert DeltaLog(spark, path).snapshot().count() == 2000


def test_optimize_write_off_keeps_partitioning(spark, tmp_path):
    path = str(tmp_path / "ow_off")
    delta_writer.write(
        spark, spark.range(0, 1000).selectExpr("id").coalesce(1), path
    )
    delta_writer.write(
        spark,
        spark.range(1000, 2000).selectExpr("id").repartition(16),
        path,
    )
    assert _n_files_in_last_commit(path) == 16
