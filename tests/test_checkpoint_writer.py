"""Checkpoints are built from the driver-side log replay and written with
pyarrow; DESCRIBE HISTORY is an arrow LocalRelation over the replay's
commitInfo. Each shape below checks, against references computed here
from an independent Spark reader of the log (``tests/spark_log_oracle.py``:
actions, active files, tombstones), that a checkpoint records exactly the state rows the
Delta rules ask for, that every ``log_replay`` answer reads the same
through it, that its parquet schema is the one Spark writes for the
action schema, and that neither ``checkpoint()`` nor
``history().collect()`` launches a Spark job."""

from __future__ import annotations

import glob
import json
import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.window import Window

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import ACTION_SCHEMA, DeltaLog
from tests import spark_log_oracle
from tests.conftest import job_ids

DAY_MS = 24 * 3600 * 1000
STATE = StructType([*ACTION_SCHEMA.fields, StructField("version", LongType())])
V2_INDEX = StructType(
    [
        StructField("checkpointMetadata", StructType([StructField("version", LongType())])),
        StructField(
            "sidecar",
            StructType(
                [
                    StructField("path", StringType()),
                    StructField("sizeInBytes", LongType()),
                    StructField("modificationTime", LongType()),
                ]
            ),
        ),
    ]
)


def _rows(spark, n, offset=0):
    return spark.createDataFrame(
        [(offset + i, float(i % 50), "abc"[i % 3]) for i in range(n)],
        "id long, v double, p string",
    )


def _write(spark, path, n, offset=0, **kw):
    return delta_writer.write(
        spark, _rows(spark, n, offset).coalesce(2), path, partition_by=["p"], mode="append", **kw
    )


def _write_json_commit(path):
    v = log_replay.Snapshot(path).version() + 1
    delta_writer._commit(path, v, [delta_writer._commit_info("SET TBLPROPERTIES", {}, {})])


def _rewrite_commit(path, version, edit):
    log_file = log_replay.commit_path(path, version)
    with open(log_file) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    for a in acts:
        edit(a)
    with open(log_file, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in acts) + "\n")


def _canon(rows) -> list[str]:
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in rows)


def _expected_state(spark, path, retention_hours=168.0):
    """The checkpoint's state rows, from the Spark log reader."""
    log = DeltaLog(spark, path)
    acts = spark_log_oracle.actions(spark, path)
    cols = STATE.fieldNames()
    cutoff = int((time.time() - retention_hours * 3600) * 1000)
    live = spark_log_oracle.active_files(spark, path).select(F.col("path").alias("lp"), F.col("version").alias("lv"))
    tombs = spark_log_oracle.tombstones(spark, path).select(F.col("path").alias("tp"), F.col("version").alias("tv"))
    adds = acts.where(F.col("add").isNotNull()).join(
        live, (F.col("add.path") == F.col("lp")) & (F.col("version") == F.col("lv")), "left_semi"
    )
    removes = (
        acts.where(F.col("remove").isNotNull())
        .join(tombs, (F.col("remove.path") == F.col("tp")) & (F.col("version") == F.col("tv")), "left_semi")
        .where(F.col("remove.deletionTimestamp").isNull() | (F.col("remove.deletionTimestamp") >= cutoff))
    )

    def newest(c):
        return acts.where(F.col(c).isNotNull()).orderBy(F.desc("version")).limit(1)

    def latest_per(c, key, *order):
        w = Window.partitionBy(F.col(key)).orderBy(*order)
        return (
            acts.where(F.col(c).isNotNull())
            .withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .drop("rn")
        )

    live_paths = [r.lp for r in live.collect()]
    live_dvs = [
        p
        for p in log.deletion_vector_paths()
        if spark.read.parquet(os.path.join(path, p)).where(F.col("rel_path").isin(live_paths)).count()
    ]
    parts = [
        adds,
        removes,
        newest("metaData"),
        newest("protocol"),
        acts.where(F.col("commitInfo").isNotNull()),
        acts.where(F.col("dv.path").isin(live_dvs) if live_dvs else F.lit(False)),
        latest_per("txn", "txn.appId", F.desc("txn.version"), F.desc("version")),
        latest_per("domainMetadata", "domainMetadata.domain", F.desc("version")),
    ]
    rows = []
    for p in parts:
        rows += p.select(*cols).collect()
    return rows


def _answers(spark, path) -> dict:
    """Every replay answer a checkpoint must carry through unchanged."""
    snap = log_replay.Snapshot(path)
    log = DeltaLog(spark, path)
    txns = {t.appId for t in log.actions().where("txn IS NOT NULL").select("txn.appId").collect()}
    return {
        "version": snap.version(),
        "metadata": snap.metadata(),
        "protocol": snap.protocol(),
        "live": snap.live_add_actions(),
        "txn": {a: snap.txn_version(a) for a in txns},
        "row_tracking": snap.domain_metadata("delta.rowTracking"),
        "record_counts": snap.record_counts(),
        "dv_deleted_rows": snap.dv_deleted_rows(),
        "live_dv_paths": snap.live_dv_paths(),
        "history": log.history().collect(),
        "record_count": log.record_count(),
    }


def _reference_history(spark, path, limit=None):
    """DESCRIBE HISTORY rows from the Spark log reader: the checkpoint
    view plus the raw commits, one row per version, newest first."""
    log = DeltaLog(spark, path)
    src = spark_log_oracle.actions(spark, path)
    if log.last_checkpoint() is not None and log_replay.commit_versions(path):
        src = src.unionByName(spark_log_oracle.actions(spark, path, use_checkpoint=False))
    out = (
        src.where(F.col("commitInfo").isNotNull())
        .dropDuplicates(["version"])
        .select(
            "version",
            F.coalesce("commitInfo.inCommitTimestamp", "commitInfo.timestamp").alias("timestamp"),
            F.col("commitInfo.operation").alias("operation"),
            F.col("commitInfo.operationParameters").alias("operationParameters"),
            F.col("commitInfo.operationMetrics").alias("operationMetrics"),
        )
        .orderBy(F.desc("version"))
    )
    return (out.limit(limit) if limit is not None else out).collect()


@pytest.fixture(scope="module")
def spark_schemas(spark, tmp_path_factory):
    """The arrow schemas Spark's parquet writer gives the state rows and
    the V2 top-level file."""
    out = {}
    for name, schema in (("state", STATE), ("v2_top", StructType(STATE.fields + V2_INDEX.fields))):
        d = str(tmp_path_factory.mktemp(name))
        spark.createDataFrame([], schema).coalesce(1).write.mode("overwrite").parquet(d)
        out[name] = pq.read_schema(glob.glob(os.path.join(d, "*.parquet"))[0]).remove_metadata()
    return out


# -- shapes: each builds a table and returns checkpoint() kwargs ---------------


def _v1_single(spark, path):
    _write(spark, path, 30)
    _write(spark, path, 20, 100)
    delta_writer.delete(spark, path, "v > 40")
    return {}


def _multipart(spark, path):
    for k in range(3):
        _write(spark, path, 12, 100 * k)
    delta_writer.delete(spark, path, "id = 3")
    return {"rows_per_part": 2}


def _v2_dv(spark, path):
    _write(spark, path, 40)
    DeltaLog(spark, path).checkpoint(format="v2", rows_per_part=3)
    up = log_replay.read_commit(path, DeltaLog(spark, path).last_checkpoint())
    assert any(a.get("commitInfo", {}).get("operation") == "UPGRADE PROTOCOL" for a in up)
    assert "v2Checkpoint" in log_replay.Snapshot(path).protocol()["readerFeatures"]
    delta_writer.delete_with_dv(spark, path, "v < 7")
    _write(spark, path, 10, 900)
    return {"format": "v2", "rows_per_part": 3}


def _tombstones(spark, path):
    """Fresh, expired and timestamp-less tombstones."""
    _write(spark, path, 30)
    _write(spark, path, 30, 100)
    v = delta_writer.delete(spark, path, "v > 20")
    old = int(time.time() * 1000) - 30 * DAY_MS
    seen = []

    def age(a):
        if "remove" in a:
            seen.append(a["remove"]["path"])
            if len(seen) % 3 == 1:
                a["remove"]["deletionTimestamp"] = old
            elif len(seen) % 3 == 2:
                a["remove"].pop("deletionTimestamp", None)

    _rewrite_commit(path, v, age)
    assert len(seen) >= 3
    return {}


def _txn_and_row_tracking(spark, path):
    _write(spark, path, 20, txn_app_id="app-a", txn_version=1)
    _write(spark, path, 20, 100, txn_app_id="app-a", txn_version=2)
    _write(spark, path, 20, 200, txn_app_id="app-b", txn_version=7)
    delta_writer.enable_row_tracking(spark, path)
    _write(spark, path, 10, 300)
    return {}


def _retired_dv(spark, path):
    _write(spark, path, 40)
    delta_writer.delete_with_dv(spark, path, "v < 5")
    maintenance.apply_deletion_vectors(spark, path)  # retires the first vector
    delta_writer.delete_with_dv(spark, path, "v > 35")
    snap = log_replay.Snapshot(path)
    assert len(snap.deletion_vector_paths()) == 2 and len(snap.live_dv_paths()) == 1
    return {}


def _foreign_checkpoint(spark, path):
    """A checkpoint without commitInfo rows or a version column, as
    spec-compliant foreign writers leave it, then a commit tail."""
    _write(spark, path, 20)
    _write(spark, path, 20, 100)
    log = DeltaLog(spark, path)
    log.checkpoint()
    f = os.path.join(path, "_delta_log", log_replay.checkpoint_file_names(log.last_checkpoint_info())[0])
    t = pq.read_table(f)
    t = t.filter(t.column("commitInfo").is_null()).drop(["version"])
    pq.write_table(t, f)
    _write(spark, path, 10, 200)
    delta_writer.delete(spark, path, "id = 1")
    return {}


SHAPES = {
    "v1_single": _v1_single,
    "multipart": _multipart,
    "v2_dv": _v2_dv,
    "tombstones_expired_and_fresh": _tombstones,
    "txn_and_row_tracking": _txn_and_row_tracking,
    "retired_dv": _retired_dv,
    "foreign_checkpoint": _foreign_checkpoint,
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_checkpoint_equals_dataframe_reference(spark, tmp_path, spark_schemas, shape):
    path = str(tmp_path / "t")
    kw = SHAPES[shape](spark, path)
    want_rows = _expected_state(spark, path)
    before = _answers(spark, path)
    tombs = log_replay.Snapshot(path).tombstones()

    version = DeltaLog(spark, path).checkpoint(**kw)

    log = DeltaLog(spark, path)
    info = log.last_checkpoint_info()
    assert version == before["version"] == info["version"]
    assert _canon(log.actions().collect()) == _canon(want_rows)
    assert info["size"] == len(want_rows) + (
        1 + len(log_replay.sidecar_names(path, info)) if kw.get("format") == "v2" else 0
    )
    after = _answers(spark, path)
    assert after == before
    cutoff = int(time.time() * 1000) - 7 * DAY_MS
    assert log_replay.Snapshot(path).tombstones() == {
        p: ts for p, ts in tombs.items() if ts is None or ts >= cutoff
    }
    assert sorted(log_replay.Snapshot(path).deletion_vector_paths()) == sorted(before["live_dv_paths"])

    log_dir = os.path.join(path, "_delta_log")
    names = log_replay.checkpoint_file_names(info)
    if kw.get("format") == "v2":
        assert pq.read_schema(os.path.join(log_dir, names[0])).remove_metadata() == spark_schemas["v2_top"]
        names = [os.path.join("_sidecars", n) for n in log_replay.sidecar_names(path, info)]
        assert len(names) > 1
    elif "rows_per_part" in kw:
        assert info["parts"] == len(names) > 1
        assert not os.path.exists(os.path.join(log_dir, f"{version:020d}.checkpoint.parquet"))
    for n in names:
        assert pq.read_schema(os.path.join(log_dir, n)).remove_metadata() == spark_schemas["state"]
    assert not glob.glob(os.path.join(log_dir, ".ckpt-tmp-*"))


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_history_equals_dataframe_reference(spark, tmp_path, shape):
    path = str(tmp_path / "t")
    kw = SHAPES[shape](spark, path)
    for _ in range(2):  # before and after a checkpoint
        log = DeltaLog(spark, path)
        assert log.history().collect() == _reference_history(spark, path)
        assert log.history(limit=2).collect() == _reference_history(spark, path, limit=2)
        log.checkpoint(**kw)


def test_history_values_read_like_spark_json(spark, tmp_path):
    """Non-string map values (foreign writers log numbers) come back as
    Spark's JSON reader yields a STRING field: a scalar as its JSON text,
    a nested value as compact JSON text — in history and through a
    checkpoint."""
    path = str(tmp_path / "t")
    _write(spark, path, 10)
    scalars = {"numFiles": 3, "ratio": 1.5, "flag": True, "none": None, "s": "x"}
    delta_writer._commit(
        path,
        1,
        [{"commitInfo": {"timestamp": 5, "operation": "FOREIGN", "operationParameters": {"n": 1},
                         "operationMetrics": scalars}}],
    )
    delta_writer._commit(
        path,
        2,
        [{"commitInfo": {"timestamp": 6, "operation": "FOREIGN",
                         "operationMetrics": {"nested": {"a": [1, "é"]}}}}],
    )
    got = DeltaLog(spark, path).history().collect()
    assert got[1].operationMetrics["numFiles"] == "3"
    assert got[1:] == _reference_history(spark, path)[1:]
    assert got[0].operationMetrics == {"nested": '{"a":[1,"é"]}'}
    DeltaLog(spark, path).checkpoint()
    assert DeltaLog(spark, path).history().collect() == got
    assert _canon(DeltaLog(spark, path).actions().where("commitInfo IS NOT NULL").collect()) == _canon(
        DeltaLog(spark, path).actions(use_checkpoint=False).where("commitInfo IS NOT NULL AND version < 2").collect()
        + DeltaLog(spark, path).actions().where("version = 2").collect()
    )


def test_nested_map_values_agree_across_readers(spark, tmp_path):
    """A nested operationParameters value reads as the same compact JSON
    text from the raw commits, from a checkpoint and from DESCRIBE
    HISTORY."""
    path = str(tmp_path / "t")
    _write(spark, path, 10)
    delta_writer._commit(
        path,
        1,
        [{"commitInfo": {"timestamp": 5, "operation": "FOREIGN",
                         "operationParameters": {"nested": {"a": [1, "é"]}}}}],
    )

    def nested(df):
        return [
            r.commitInfo.operationParameters["nested"]
            for r in df.where("version = 1 AND commitInfo IS NOT NULL").collect()
        ]

    raw = nested(DeltaLog(spark, path).actions(use_checkpoint=False))
    hist = [r.operationParameters["nested"] for r in DeltaLog(spark, path).history().collect() if r.version == 1]
    DeltaLog(spark, path).checkpoint()
    ckpt = nested(DeltaLog(spark, path).actions())
    assert raw == ckpt == hist == ['{"a":[1,"é"]}']


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_log_dataframes_launch_no_spark_job(spark, tmp_path, shape):
    """Every DeltaLog DataFrame over the log is a LocalRelation built by
    the driver-side replay: collecting it runs no Spark job, above a
    checkpoint and over a commit tail."""
    path = str(tmp_path / "t")
    kw = SHAPES[shape](spark, path)
    DeltaLog(spark, path).checkpoint(**kw)
    _write_json_commit(path)
    log = DeltaLog(spark, path)
    reads = {
        "actions": lambda: log.actions(),
        "actions_raw": lambda: log.actions(use_checkpoint=False),
        "active_files": lambda: log.active_files(),
        "tombstones": lambda: log.tombstones(),
        "changes": lambda: log.changes(log.earliest_version()),
        "pruned_files": lambda: log.pruned_files("v", 0.0, 10.0),
    }
    for name, read in reads.items():
        rows = []
        assert job_ids(spark, lambda: rows.extend(read().collect())) == [], name
        assert rows or name in ("tombstones", "pruned_files"), name


def test_report_frames_launch_no_spark_job(spark, tmp_path):
    """The dashboard aggregates are computed on the driver from the log
    replay: collecting them runs no Spark job, above a checkpoint and
    over a commit tail."""
    from delta_lake_health_spark.operators import report

    path = str(tmp_path / "t")
    kw = SHAPES["v1_single"](spark, path)
    DeltaLog(spark, path).checkpoint(**kw)
    _write_json_commit(path)
    for fn in (report.file_size_histogram, report.partition_records,
               report.historical_trends):
        rows = []
        assert job_ids(spark, lambda: rows.extend(fn(spark, path).collect())) == [], fn
        assert rows, fn


def test_history_of_an_empty_log_raises(spark, tmp_path):
    os.makedirs(tmp_path / "t" / "_delta_log")
    with pytest.raises(FileNotFoundError):
        DeltaLog(spark, str(tmp_path / "t")).history()


def test_checkpoint_and_history_launch_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "t")
    _multipart(spark, path)
    sc = spark.sparkContext
    group, control = f"ckpt-{time.time_ns()}", f"control-{time.time_ns()}"
    sc.setJobGroup(group, "driver-side checkpoint and history")
    try:
        DeltaLog(spark, path).checkpoint()
        _write_json_commit(path)
        DeltaLog(spark, path).checkpoint(rows_per_part=2)
        assert DeltaLog(spark, path).last_checkpoint_info()["parts"] > 1
        assert len(DeltaLog(spark, path).history().collect()) == log_replay.Snapshot(path).version() + 1
        # positive control: a job in a later group shows up, so every
        # job of the first group has been seen by the status tracker
        sc.setJobGroup(control, "control")
        spark.range(3).count()
        deadline = time.time() + 30
        while not sc.statusTracker().getJobIdsForGroup(control):
            assert time.time() < deadline, "control job never reached the tracker"
            time.sleep(0.1)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
