"""The driver-side log replay (``sources/log_replay.py``) behind DeltaLog's
metadata / protocol / version / live adds / dv paths must equal the same
answers computed from an independent Spark reader of the log
(``tests/spark_log_oracle.py``) on every log shape the engine writes — json-only,
post-checkpoint (single, multi-part, v2), post-cleanup, with DVs, with
re-added paths (add-wins) and time travel on either side of the
checkpoint."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog
from tests import spark_log_oracle


def _spark_side(spark, path, as_of=None) -> dict:
    """The answers computed here from the Spark log reader."""
    use_ckpt = log_replay.Snapshot(path).replays_checkpoint(as_of)
    acts = spark_log_oracle.actions(spark, path, use_checkpoint=use_ckpt)
    if as_of is not None:
        acts = acts.where(F.col("version") <= as_of)
    meta = (
        acts.where(F.col("metaData").isNotNull())
        .orderBy(F.desc("version")).limit(1).collect()
    )
    m = meta[0].metaData if meta else None
    proto = (
        acts.where(F.col("protocol").isNotNull())
        .orderBy(F.desc("version")).limit(1).collect()
    )
    p = proto[0].protocol if proto else None
    adds = acts.where(F.col("add").isNotNull()).select(
        F.col("add.path").alias("path"), F.col("add").alias("a"),
        "version", F.lit(1).alias("is_add"),
    )
    removes = acts.where(F.col("remove").isNotNull()).select(
        F.col("remove.path").alias("path"),
        F.lit(None).cast(acts.schema["add"].dataType).alias("a"),
        "version", F.lit(0).alias("is_add"),
    )
    w = Window.partitionBy("path").orderBy(F.desc("version"), F.desc("is_add"))
    live_adds = [
        {k: v for k, v in r.a.asDict(recursive=True).items() if v is not None}
        for r in adds.unionByName(removes)
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("is_add") == 1))
        .select("a").collect()
    ]
    return {
        "metadata": {} if m is None else {
            "id": m.id,
            "name": m.name,
            "partition_columns": list(m.partitionColumns or []),
            "schema": json.loads(m.schemaString) if m.schemaString else None,
            "configuration": dict(m.configuration or {}),
        },
        "protocol": {
            "minReaderVersion": int(p.minReaderVersion),
            "minWriterVersion": int(p.minWriterVersion),
            "readerFeatures": list(p.readerFeatures or []),
            "writerFeatures": list(p.writerFeatures or []),
        },
        "version": acts.agg(F.max("version")).collect()[0][0],
        "dv_paths": sorted(
            r.path for r in acts.where(F.col("dv").isNotNull())
            .select(F.col("dv.path").alias("path")).collect()
        ),
        "live_rows": sorted(
            (r.path, dict(r.partitionValues or {}))
            for r in spark_log_oracle.active_files(spark, path, as_of)
            .select("path", "partitionValues").collect()
        ),
        "live_adds": sorted(live_adds, key=lambda a: a["path"]),
    }


def _assert_parity(spark, path, as_of=None):
    want = _spark_side(spark, path, as_of)
    log = DeltaLog(spark, path)
    assert log.metadata(as_of) == want["metadata"]
    assert sorted(log.deletion_vector_paths(as_of)) == want["dv_paths"]
    assert sorted(
        (r.path, dict(r.partitionValues or {}))
        for r in log.live_files_rows(as_of)
    ) == want["live_rows"]
    snap = log_replay.Snapshot(path)
    assert snap.live_add_actions(as_of) == want["live_adds"]
    if as_of is None:
        assert log.protocol() == want["protocol"]
        assert log.version() == want["version"]
        assert log.live_add_actions() == want["live_adds"]


def _df(spark):
    return spark.range(0, 5000).selectExpr(
        "id", "id % 7 AS k", "CAST(id % 13 AS DOUBLE) AS v"
    )


def test_fastpath_parity_json_only(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark)
    delta_writer.write(spark, df.repartition(4), path, mode="append")
    delta_writer.write(spark, df.repartition(2), path, mode="append")
    _assert_parity(spark, path)
    # overwrite removes + re-adds paths in one commit chain
    delta_writer.write(
        spark, df.where("k = 3").coalesce(1), path, mode="overwrite"
    )
    _assert_parity(spark, path)


def test_fastpath_parity_with_dvs_and_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark)
    delta_writer.write(spark, df.repartition(4), path, mode="append")
    delta_writer.delete_with_dv(spark, path, "k = 2")
    _assert_parity(spark, path)
    DeltaLog(spark, path).checkpoint()
    _assert_parity(spark, path)
    delta_writer.write(spark, df.repartition(2), path, mode="append")
    _assert_parity(spark, path)
    # post-cleanup: metaData/protocol/dv live only in the checkpoint
    DeltaLog(spark, path).checkpoint()
    maintenance.cleanup_log(spark, path, retention_hours=0.0)
    _assert_parity(spark, path)
    # snapshot rows through the driver's live list == the log-stats count
    # over the distributed replay's active_files (minus DV positions)
    log = DeltaLog(spark, path)
    n = log.snapshot().count()
    assert n == log.record_count() and n > 0


def test_fastpath_parity_partitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS day"
    )
    delta_writer.write(
        spark, df.repartition(3), path, mode="append", partition_by=["day"]
    )
    delta_writer.write(
        spark, df.where("id < 100").coalesce(1), path, mode="append"
    )
    _assert_parity(spark, path)
    # partitionValues survive the pyarrow map conversion after checkpoint
    DeltaLog(spark, path).checkpoint()
    for f in glob.glob(os.path.join(path, "_delta_log", "*.json")):
        os.remove(f)
    _assert_parity(spark, path)


def test_parity_multi_part_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark)
    delta_writer.write(spark, df.repartition(4), path, mode="append")
    delta_writer.delete_with_dv(spark, path, "k = 2")
    delta_writer.write(spark, df.repartition(3), path, mode="append")
    log = DeltaLog(spark, path)
    log.checkpoint(rows_per_part=3)
    assert int(log.last_checkpoint_info()["parts"]) > 1
    _assert_parity(spark, path)
    delta_writer.write(spark, df.repartition(2), path, mode="overwrite")
    _assert_parity(spark, path)


def test_parity_v2_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark)
    delta_writer.write(spark, df.repartition(4), path, mode="append")
    delta_writer.delete_with_dv(spark, path, "k = 2")
    DeltaLog(spark, path).checkpoint(format="v2", rows_per_part=2)
    info = DeltaLog(spark, path).last_checkpoint_info()
    assert info["format"] == "v2"
    assert len(log_replay.sidecar_names(path, info)) > 1
    _assert_parity(spark, path)
    delta_writer.write(spark, df.repartition(2), path, mode="append")
    maintenance.cleanup_log(spark, path, retention_hours=0.0)
    _assert_parity(spark, path)


def test_parity_as_of_both_sides_of_checkpoint(spark, tmp_path):
    path = str(tmp_path / "t")
    df = _df(spark)
    delta_writer.write(spark, df.repartition(3), path, mode="append")
    delta_writer.delete_with_dv(spark, path, "k = 2")
    delta_writer.write(spark, df.repartition(2), path, mode="append")
    ckpt = DeltaLog(spark, path).checkpoint()
    delta_writer.write(spark, df.where("k = 1").coalesce(1), path,
                       mode="overwrite")
    head = DeltaLog(spark, path).version()
    for as_of in range(0, head + 1):  # below, at and above the checkpoint
        _assert_parity(spark, path, as_of)
    # after cleanup the pre-checkpoint states are gone on BOTH replays
    maintenance.cleanup_log(spark, path, retention_hours=0.0)
    with pytest.raises(ValueError, match="cleaned up"):
        DeltaLog(spark, path).live_files_rows(ckpt - 1)
    with pytest.raises(ValueError, match="cleaned up"):
        DeltaLog(spark, path).active_files(ckpt - 1)
    _assert_parity(spark, path, ckpt)


def test_delta_tail_bootstrap_equals_active_files(spark, tmp_path):
    """The delta_tail snapshot-bootstrap batch plans exactly the files of
    ``active_files(as_of)``, below and at the checkpoint."""
    from delta_lake_health_spark.streaming.delta_source import (
        DeltaTailStreamReader,
    )

    path = str(tmp_path / "t")
    df = _df(spark)
    delta_writer.write(spark, df.repartition(3), path, mode="append")
    delta_writer.write(spark, df.repartition(2), path, mode="append")
    delta_writer.delete(spark, path, "k = 4")
    ckpt = DeltaLog(spark, path).checkpoint()
    delta_writer.write(spark, df.coalesce(1), path, mode="append")
    reader = DeltaTailStreamReader(None, {"path": path})
    for as_of in (1, ckpt, ckpt + 1):
        parts = reader.partitions(
            {"version": as_of, "snap": 0}, {"version": as_of}
        )
        want = {
            os.path.join(path, r.path)
            for r in DeltaLog(spark, path).active_files(as_of)
            .select("path").collect()
        }
        assert {p.abs_path for p in parts} == want


def test_version_fails_loudly_on_truncated_newest_commit(spark, tmp_path):
    """The version is read from the newest commit, so a truncated head
    raises the same corrupt-commit error as a snapshot read."""
    path = str(tmp_path / "t")
    delta_writer.write(spark, spark.range(0, 10).selectExpr("id"), path)
    delta_writer.write(
        spark, spark.range(10, 20).selectExpr("id"), path, mode="append"
    )
    p = log_replay.commit_path(path, 1)
    raw = open(p).read()
    with open(p, "w") as f:
        f.write(raw[: len(raw) // 2])
    with pytest.raises(ValueError, match="corrupt Delta commit") as snap_err:
        DeltaLog(spark, path).snapshot()
    with pytest.raises(ValueError, match="corrupt Delta commit") as ver_err:
        DeltaLog(spark, path).version()
    assert str(ver_err.value) == str(snap_err.value)


def test_answers_are_copies(spark, tmp_path):
    """Mutating a returned answer never changes what a fresh DeltaLog on
    the same snapshot returns."""
    path = str(tmp_path / "t")
    df = spark.range(0, 100).selectExpr("id", "CAST(id % 2 AS STRING) AS p")
    delta_writer.write(spark, df.repartition(2), path, partition_by=["p"])
    delta_writer.set_table_property(spark, path, "delta.appendOnly", "false")
    log = DeltaLog(spark, path)
    adds, meta = log.live_add_actions(), log.metadata()
    want_adds = [dict(a, partitionValues=dict(a["partitionValues"]))
                 for a in adds]
    want_conf = dict(meta["configuration"])
    adds[0]["partitionValues"]["p"] = "poisoned"
    adds[0]["size"] = -1
    adds.pop()
    meta["configuration"]["delta.appendOnly"] = "poisoned"
    fresh = DeltaLog(spark, path)
    assert fresh.live_add_actions() == want_adds
    assert fresh.metadata()["configuration"] == want_conf
