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


def _count_listings(monkeypatch) -> list:
    """Record every listing of a ``_delta_log`` (``commit_versions``, the
    one function that lists it) from here on."""
    calls = []
    orig = log_replay.commit_versions

    def counting(table_path):
        calls.append(table_path)
        return orig(table_path)

    monkeypatch.setattr(log_replay, "commit_versions", counting)
    return calls


def _four_file_table(spark, path):
    delta_writer.write(
        spark,
        spark.range(0, 40).selectExpr("id", "id % 4 AS k").repartition(4),
        path,
    )
    assert len(log_replay.Snapshot(path)._live_adds()) == 4


def _listings(calls, fn) -> int:
    calls.clear()
    fn()
    return len(calls)


def test_read_sees_one_snapshot_while_a_commit_lands(spark, tmp_path, monkeypatch):
    """A read is a scan of ONE snapshot: a schema-replacing overwrite
    committed right after the read lists the log changes nothing it
    returns — version 0's rows under version 0's columns, never version
    0's files under version 1's schema."""
    path = str(tmp_path / "t")
    delta_writer.write(
        spark, spark.range(0, 5).selectExpr("id", "id * 10 AS k"), path
    )
    orig = log_replay.commit_versions
    fired = []

    def list_then_overwrite(table_path):
        out = orig(table_path)
        if not fired:  # the overwrite's own listings pass through
            fired.append(True)
            delta_writer.write(
                spark,
                spark.range(0, 5).selectExpr("id", "CAST(id AS STRING) AS s"),
                path,
                mode="overwrite",
            )
        return out

    monkeypatch.setattr(log_replay, "commit_versions", list_then_overwrite)
    df = DeltaLog(spark, path).snapshot()
    rows = sorted(tuple(r) for r in df.collect())
    monkeypatch.undo()
    assert fired and delta_writer.current_version(path) == 1
    assert df.columns == ["id", "k"]
    assert rows == [(i, i * 10) for i in range(5)]


def test_one_listing_per_read(spark, tmp_path, monkeypatch):
    """Every DeltaLog read lists ``_delta_log`` once: its protocol gate,
    schema, live files and deletion vectors come from one snapshot."""
    from delta_lake_health_spark.sources import delta_log

    path = str(tmp_path / "t")
    _four_file_table(spark, path)
    log = DeltaLog(spark, path)
    some = [a["path"] for a in log_replay.Snapshot(path)._live_adds()][:2]
    calls = _count_listings(monkeypatch)
    got = {
        "snapshot": _listings(calls, lambda: log.snapshot().count()),
        "read_files": _listings(calls, lambda: delta_log.read_files(
            spark, log_replay.Snapshot(path), some).count()),
        "scan": _listings(calls, lambda: log.scan("id", 0, 5).count()),
        "detail": _listings(calls, log.detail),
    }
    assert got == {"snapshot": 1, "read_files": 1, "scan": 1, "detail": 1}


def test_one_listing_per_operation(spark, tmp_path, monkeypatch):
    """Every writer and maintenance operation lists ``_delta_log`` once
    — its base snapshot, which it also scans — and a commit that meets
    no concurrent one lists nothing more."""
    path = str(tmp_path / "t")
    _four_file_table(spark, path)
    calls = _count_listings(monkeypatch)
    got = {
        "append": _listings(calls, lambda: delta_writer.write(
            spark, spark.range(40, 44).selectExpr("id", "id % 4 AS k"), path)),
        "merge": _listings(calls, lambda: delta_writer.merge(
            spark, path,
            spark.range(0, 3).selectExpr("id", "id + 100 AS k"), ["id"])),
        "update": _listings(calls, lambda: delta_writer.update(
            spark, path, "id = 5", {"k": "k + 1"})),
        "delete": _listings(calls, lambda: delta_writer.delete(
            spark, path, "id = 6")),
        "delete_dv": _listings(calls, lambda: delta_writer.delete_with_dv(
            spark, path, "id = 7")),
        "compact": _listings(calls, lambda: maintenance.compact(spark, path)),
        "vacuum_dry_run": _listings(calls, lambda: maintenance.vacuum(
            spark, path, retention_hours=0, dry_run=True)),
    }
    assert got == dict.fromkeys(got, 1)
    assert DeltaLog(spark, path).snapshot().count() == 42


def test_one_listing_per_lookup_and_partition_report(spark, tmp_path, monkeypatch):
    """A bloom point lookup prunes and scans one snapshot, and the
    partition report takes its columns and live adds from one."""
    from delta_lake_health_spark.operators import bloom_index, report

    path = str(tmp_path / "t")
    delta_writer.write(
        spark, spark.range(0, 40).selectExpr("id", "id % 4 AS k"), path,
        partition_by=["k"],
    )
    bloom_index.build_bloom_index(spark, path, "id")
    calls = _count_listings(monkeypatch)
    got = {
        "bloom_point_lookup": _listings(calls, lambda: bloom_index.bloom_point_lookup(
            spark, path, "id", 7).count()),
        "partition_records": _listings(
            calls, lambda: report.partition_records(spark, path).collect()),
    }
    assert got == {"bloom_point_lookup": 1, "partition_records": 1}


def test_dv_aware_scan_builds_without_a_spark_job(spark, tmp_path):
    """Deletion-vector sidecars are read with their declared schema, so
    building a DV-aware scan infers nothing."""
    from tests.conftest import job_ids

    path = str(tmp_path / "t")
    _four_file_table(spark, path)
    delta_writer.delete_with_dv(spark, path, "id = 7")
    box = []
    assert job_ids(spark, lambda: box.append(DeltaLog(spark, path).snapshot())) == []
    assert box[0].count() == 39


def test_row_tracked_commit_lists_for_its_high_water_mark(
    spark, tmp_path, monkeypatch
):
    """On a row-tracked table an add-carrying commit lists the log once
    more, for the row-id high-water mark it advances."""
    path = str(tmp_path / "t")
    _four_file_table(spark, path)
    delta_writer.enable_row_tracking(spark, path)
    calls = _count_listings(monkeypatch)
    n = _listings(calls, lambda: delta_writer.merge(
        spark, path, spark.range(0, 3).selectExpr("id", "id + 100 AS k"), ["id"]))
    monkeypatch.undo()
    assert n == 2
    ids = [r._row_id for r in DeltaLog(spark, path).row_ids().collect()]
    assert len(ids) == 40 and None not in ids and len(set(ids)) == 40
