"""Delta log/writer/analyzer/maintenance tests — mirrors the reference's
test strategy (test/test_delta_analyzer_metrics.py): build skewed /
unskewed / orphaned tables, assert the same metric inequalities; plus
golden health-score values and log-reader roundtrips."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

# the core Delta-log end-to-end battery (~8.5 min alone): slow battery, full-suite close-out only
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.operators.health import (
    HealthAnalyzer,
    HealthMetrics,
    HealthStatus,
    health_score,
)
from delta_lake_health_spark.sources import delta_writer
from delta_lake_health_spark.sources.delta_log import DeltaLog


def _tips_df(spark, n_mon=80, n_tue=10, n_wed=10, offset=0):
    """Deterministic analogue of the reference's tips fixture."""
    rows = []
    spec = [("Mon", "Dinner", n_mon), ("Tue", "Lunch", n_tue), ("Wed", "Lunch", n_wed)]
    i = offset
    for day, t, n in spec:
        for _ in range(n):
            rows.append((float(10 + (i * 7) % 41), float(1 + (i * 3) % 9), day, t, 1 + i % 4))
            i += 1
    return spark.createDataFrame(
        rows, "total_bill double, tip double, day string, time string, size int"
    )


@pytest.fixture(scope="module")
def skewed_table(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/tips"
    df = _tips_df(spark)
    delta_writer.write(spark, df, path, mode="overwrite", partition_by=["day", "time"])
    for k in range(3):
        delta_writer.write(
            spark, _tips_df(spark, 8, 1, 1, offset=100 * (k + 1)), path,
            mode="append", partition_by=["day", "time"],
        )
    delta_writer.delete(spark, path, "total_bill > 40")
    maintenance.compact(spark, path, small_file_size=32 * 1024 * 1024)
    yield path
    shutil.rmtree(tmp)


@pytest.fixture(scope="module")
def skewed_metrics(spark, skewed_table):
    return HealthAnalyzer(spark).analyze_table(skewed_table,
                                               orphan_file_ratio_threshold=0.8)


def test_metrics_and_skewness(skewed_metrics):
    m = skewed_metrics
    assert m.number_of_writes >= 4
    assert m.number_of_deletes >= 1
    assert m.number_of_optimizes >= 1
    assert m.skewness_max > 0.7
    assert m.skewness_average > 0.2
    assert m.is_skewed
    assert m.version_count >= 5


def test_skew_metrics_dictionary(skewed_metrics):
    m = skewed_metrics
    sm = m.skew_metrics
    for key in ("partition_columns", "skewness_max", "skewness_average",
                "is_skewed", "records_per_partition_dict"):
        assert key in sm
    assert sm["partition_columns"] == ["day", "time"]
    assert m.skewness_max == sm["skewness_max"]
    assert m.skewness_average == sm["skewness_average"]
    rpp = sm["records_per_partition_dict"]
    assert len(rpp) > 0
    max_partition = max(rpp.items(), key=lambda kv: kv[1])
    assert "Mon" in max_partition[0]
    assert max_partition[1] >= 70


def test_no_skewness(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/tips_noskew"
    rows = [(10.0, 1.0, d, t, 1) for d in ("Mon", "Tue") for t in ("Dinner", "Lunch")
            for _ in range(30)]
    df = spark.createDataFrame(
        rows, "total_bill double, tip double, day string, time string, size int"
    )
    delta_writer.write(spark, df, path, mode="overwrite", partition_by=["day", "time"])
    m = HealthAnalyzer(spark).analyze_table(path)
    assert m.skewness_max < 0.01
    assert m.skewness_average < 0.01
    shutil.rmtree(tmp)


def test_no_orphan_files(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/no_orphan"
    delta_writer.write(
        spark, _tips_df(spark, 50, 25, 25), path, mode="overwrite",
        partition_by=["day"],
    )
    m = HealthAnalyzer(spark).analyze_table(path, orphan_file_ratio_threshold=0.5)
    assert m.has_orphan_files is False
    assert m.orphan_files_count == 0
    shutil.rmtree(tmp)


def test_many_orphan_files(skewed_metrics):
    """After appends + delete + compact, superseded files remain on disk
    unreferenced — the analyzer must flag them."""
    m = skewed_metrics
    assert m.has_orphan_files is True
    assert m.orphan_files_count > 0
    assert m.total_file_count > m.data_file_count
    assert m.needs_vacuum  # live bytes are a small slice of folder bytes


def test_log_roundtrip_and_record_count(spark, skewed_table):
    log = DeltaLog(spark, skewed_table)
    snap_count = log.snapshot().count()
    assert log.record_count() == snap_count  # log-only count == data scan
    # delete removed the total_bill > 40 rows
    assert log.snapshot().where(F.col("total_bill") > 40).count() == 0
    ops = log.operation_counts()
    assert ops["WRITE"] >= 4 and ops["DELETE"] >= 1 and ops["OPTIMIZE"] >= 1
    hist = log.history().collect()
    assert hist[0].version == log.version()  # newest first


def test_compact_reduces_files_preserves_data(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/compact_me"
    for k in range(5):
        delta_writer.write(spark, _tips_df(spark, 10, 5, 5, offset=50 * k), path,
                           mode="append", partition_by=["day"])
    log = DeltaLog(spark, path)
    before_files = log.active_files().count()
    before_rows = sorted(log.snapshot().collect())
    res = maintenance.compact(spark, path)
    assert res["numRemovedFiles"] == before_files
    log2 = DeltaLog(spark, path)
    assert log2.active_files().count() < before_files
    assert sorted(log2.snapshot().collect()) == before_rows
    shutil.rmtree(tmp)


def test_vacuum_removes_orphans_keeps_data(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/vacuum_me"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite",
                       partition_by=["day"])
    delta_writer.write(spark, _tips_df(spark, 5, 5, 5, offset=200), path,
                       mode="overwrite", partition_by=["day"])  # orphans v0 files
    log = DeltaLog(spark, path)
    rows_before = sorted(log.snapshot().collect())
    dry = maintenance.vacuum(spark, path, retention_hours=0, dry_run=True)
    assert dry["numDeletedFiles"] > 0
    res = maintenance.vacuum(spark, path, retention_hours=0)
    assert res["numDeletedFiles"] == dry["numDeletedFiles"]
    m = HealthAnalyzer(spark).analyze_table(path)
    assert m.orphan_files_count == 0
    assert sorted(DeltaLog(spark, path).snapshot().collect()) == rows_before
    shutil.rmtree(tmp)


def test_zorder_preserves_data(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/zorder_me"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite")
    rows_before = sorted(DeltaLog(spark, path).snapshot().collect())
    res = maintenance.zorder_cluster(spark, path, ["total_bill", "tip"])
    assert res["numAddedFiles"] >= 1
    assert sorted(DeltaLog(spark, path).snapshot().collect()) == rows_before
    ops = DeltaLog(spark, path).operation_counts()
    assert ops.get("OPTIMIZE", 0) >= 1
    shutil.rmtree(tmp)



def test_zorder_survives_nan_inf_and_all_null_columns(spark, tmp_path):
    """Non-finite cluster bounds (a NaN row makes max() NaN, an Inf row
    makes it Inf) and an all-null column (null bounds) fall back to 0.0
    instead of rendering an unparseable SQL literal."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i), None) for i in range(40)]
        + [(40, float("nan"), None), (41, float("inf"), None),
           (42, float("-inf"), None)],
        "id long, x double, y double",
    )
    delta_writer.write(spark, df.repartition(3), path)
    res = maintenance.zorder_cluster(spark, path, ["x", "y"])
    assert res["numAddedFiles"] >= 1
    snap = DeltaLog(spark, path).snapshot()
    assert sorted(r.id for r in snap.collect()) == list(range(43))
    assert snap.where("isnan(x)").count() == 1


# --- golden health-score tests (hand-computed from the reference formula) --

def test_health_score_golden_healthy():
    m = HealthMetrics(number_of_writes=10, number_of_optimizes=1,
                      needs_vacuum=False, skewness_max=0.05,
                      small_files_count=2, has_orphan_files=False)
    score, status = health_score(m)
    # freshness 25 + maintenance (12.5+12.5) + balance 20 + storage 23.75
    assert score == pytest.approx(93.75)
    assert status == HealthStatus.HEALTHY


def test_health_score_golden_unhealthy():
    m = HealthMetrics(number_of_writes=4, number_of_optimizes=0,
                      needs_vacuum=True, skewness_max=0.3,
                      small_files_count=8, has_orphan_files=True)
    score, status = health_score(m)
    # freshness 10 + maintenance 0 + balance 0 + storage (12.5 - 12.5 - ... )
    # small_ratio = 8/8 = 1.0 -> penalty 12.5; orphan 12.5 -> storage 0
    assert score == pytest.approx(10.0)
    assert status == HealthStatus.VERY_UNHEALTHY


def test_health_score_uses_skew_metrics_dict():
    m = HealthMetrics(number_of_writes=10, skewness_max=0.0,
                      skew_metrics={"skewness_max": 0.5})
    score, _ = health_score(m)
    # freshness 25, maintenance 12.5 (vacuum half only), balance 0
    # (dict skew 0.5 -> penalty capped at 25), storage 25 (no penalties)
    assert score == pytest.approx(25 + 12.5 + 0 + 25)


def test_checkpoint_roundtrip(spark):
    """After checkpointing, the reader consumes checkpoint + tail JSONs
    only, and every metric survives: snapshot rows, record count, history
    op counts, skew."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/ckpt_me"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite",
                       partition_by=["day"])
    delta_writer.write(spark, _tips_df(spark, 5, 5, 5, offset=200), path,
                       mode="append", partition_by=["day"])
    delta_writer.delete(spark, path, "total_bill > 40")
    log = DeltaLog(spark, path)
    rows_before = sorted(log.snapshot().collect())
    ops_before = log.operation_counts()
    ckpt_v = log.checkpoint()
    assert ckpt_v == log.version()
    # commits after the checkpoint still apply
    delta_writer.write(spark, _tips_df(spark, 2, 2, 2, offset=400), path,
                       mode="append", partition_by=["day"])
    log2 = DeltaLog(spark, path)
    assert log2.last_checkpoint() == ckpt_v
    assert log2.version() == ckpt_v + 1
    snap = log2.snapshot()
    assert snap.count() == len(rows_before) + 6
    ops_after = log2.operation_counts()
    assert ops_after["WRITE"] == ops_before["WRITE"] + 1
    assert ops_after["DELETE"] == ops_before["DELETE"]
    assert log2.record_count() == snap.count()
    shutil.rmtree(tmp)


def test_vacuum_respects_retention_after_checkpoint(spark):
    """Regression (round-1 advisor, HIGH): a file removed within the
    retention window must survive vacuum even when a checkpoint has
    compacted the log — the checkpoint keeps unexpired remove tombstones,
    so the file is aged by its deletionTimestamp, not file mtime."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/ckpt_vacuum"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite",
                       partition_by=["day"])
    delta_writer.write(spark, _tips_df(spark, 5, 5, 5, offset=200), path,
                       mode="overwrite", partition_by=["day"])  # removes v0 now
    log = DeltaLog(spark, path)
    removed_rel = [r.path for r in log.tombstones().collect()]
    assert removed_rel
    log.checkpoint()
    log2 = DeltaLog(spark, path)
    tombs = log2.tombstones().collect()
    assert {r.path for r in tombs} == set(removed_rel)
    assert all(r.deletionTimestamp is not None for r in tombs)
    # within retention: nothing deleted, time travel still works
    res = maintenance.vacuum(spark, path, retention_hours=168)
    assert res["numDeletedFiles"] == 0
    for rel in removed_rel:
        assert os.path.isfile(os.path.join(path, rel))
    assert DeltaLog(spark, path).snapshot(as_of=0).count() == 100
    # past retention: the tombstoned files go
    res0 = maintenance.vacuum(spark, path, retention_hours=0)
    assert res0["numDeletedFiles"] >= len(removed_rel)
    shutil.rmtree(tmp)


def test_same_version_remove_readd_keeps_file_live(spark):
    """Add outranks remove at the same version (documented add-wins)."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/readd"
    delta_writer.write(spark, _tips_df(spark), path, mode="append")
    log = DeltaLog(spark, path)
    rel = sorted(r.path for r in log.active_files().collect())[0]
    delta_writer._commit(
        path,
        delta_writer.current_version(path) + 1,
        [
            {"remove": {"path": rel, "deletionTimestamp": 0, "dataChange": False}},
            delta_writer._add_action(path, rel),
        ],
    )
    log2 = DeltaLog(spark, path)
    assert rel in {r.path for r in log2.active_files().collect()}
    assert rel not in {r.path for r in log2.tombstones().collect()}
    shutil.rmtree(tmp)


def test_write_mode_validated_on_existing_table(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/modes"
    delta_writer.write(spark, _tips_df(spark), path, mode="append")
    with pytest.raises(ValueError, match="bad mode"):
        delta_writer.write(spark, _tips_df(spark), path, mode="ignore")
    with pytest.raises(ValueError, match="bad mode"):
        delta_writer.write(spark, _tips_df(spark), path, mode="error")
    shutil.rmtree(tmp)


def test_overwrite_schema_change_reemits_metadata(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/reschema"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite")
    wide = _tips_df(spark).withColumn("extra", F.lit(1))
    delta_writer.write(spark, wide, path, mode="overwrite")
    meta = DeltaLog(spark, path).metadata()
    fields = [f["name"] for f in meta["schema"]["fields"]]
    assert "extra" in fields
    shutil.rmtree(tmp)


def test_deletion_vectors_soft_delete_and_apply(spark):
    """DELETE via deletion vector: rows vanish from the snapshot without
    any data-file rewrite; record_count stays log-derivable; time travel
    still sees the pre-delete rows; checkpointing preserves the vectors;
    apply_deletion_vectors rewrites only the affected files and retires
    the vectors."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/dv_table"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite",
                       partition_by=["day"])
    log = DeltaLog(spark, path)
    files_before = {r.path for r in log.active_files().collect()}
    assert log.snapshot().count() == 100

    v = delta_writer.delete_with_dv(spark, path, "total_bill > 40")
    log = DeltaLog(spark, path)
    remaining = log.snapshot().count()
    assert 0 < remaining < 100
    assert log.snapshot().where("total_bill > 40").count() == 0
    # no data file was rewritten or removed
    assert {r.path for r in log.active_files().collect()} == files_before
    # log-only record count sees through the vectors
    assert log.record_count() == remaining
    # sidecars are metadata, not orphans
    m = HealthAnalyzer(spark).analyze_table(path)
    assert m.orphan_files_count == 0
    assert m.record_count == remaining
    # time travel to before the delete
    assert log.snapshot(as_of=v - 1).count() == 100

    # vectors survive a checkpoint
    log.checkpoint()
    log2 = DeltaLog(spark, path)
    assert log2.snapshot().count() == remaining
    rows_soft = sorted(log2.snapshot().collect())

    res = maintenance.apply_deletion_vectors(spark, path)
    assert res["numRewrittenFiles"] >= 1
    log3 = DeltaLog(spark, path)
    assert sorted(log3.snapshot().collect()) == rows_soft
    assert log3.record_count() == remaining
    # second apply: vectors now reference dead files only
    assert maintenance.apply_deletion_vectors(spark, path).get("skipped")
    shutil.rmtree(tmp)


def test_deletion_vectors_survive_compact_and_delete(spark):
    """File-rewriting operators must read through the vectors: compacting
    or predicate-deleting files that carry soft-deleted positions must
    NOT resurrect those rows into the rewritten files."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/dv_compact"
    for k in range(4):  # several small files so compact has work
        delta_writer.write(spark, _tips_df(spark, 10, 5, 5, offset=50 * k),
                           path, mode="append")
    log = DeltaLog(spark, path)
    total = log.snapshot().count()
    delta_writer.delete_with_dv(spark, path, "total_bill > 40")
    soft = DeltaLog(spark, path).snapshot().count()
    assert soft < total

    res = maintenance.compact(spark, path, small_file_size=32 * 1024 * 1024)
    assert res["numRemovedFiles"] > 0
    log2 = DeltaLog(spark, path)
    assert log2.snapshot().count() == soft
    assert log2.snapshot().where("total_bill > 40").count() == 0
    assert log2.record_count() == soft

    # and a predicate delete on a DV-carrying table
    path2 = f"{tmp}/dv_delete"
    delta_writer.write(spark, _tips_df(spark), path2, mode="append")
    delta_writer.delete_with_dv(spark, path2, "total_bill > 40")
    kept = DeltaLog(spark, path2).snapshot().count()
    delta_writer.delete(spark, path2, "tip > 5")
    snap = DeltaLog(spark, path2).snapshot()
    assert snap.where("total_bill > 40").count() == 0  # not resurrected
    assert snap.where("tip > 5").count() == 0
    assert snap.count() < kept
    shutil.rmtree(tmp)


def test_commit_retry_detects_concurrent_schema_change(spark, monkeypatch):
    """If the commit that wins the version race evolved the table schema,
    the retrying writer must raise instead of silently re-committing
    metadata validated against the old schema."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/race"
    df = _tips_df(spark, 5, 2, 2)
    delta_writer.write(spark, df, path, mode="overwrite")

    real_commit = delta_writer._commit
    fired = {"done": False}

    def racing_commit(table_path, version, actions):
        if not fired["done"]:
            fired["done"] = True
            # a concurrent writer wins this version with a schema change
            wide = df.withColumn("extra", F.lit(1))
            delta_writer.write(spark, wide, path, mode="append",
                               merge_schema=True)
        return real_commit(table_path, version, actions)

    monkeypatch.setattr(delta_writer, "_commit", racing_commit)
    with pytest.raises(delta_writer.MetadataChangedException):
        delta_writer.write(spark, df, path, mode="append")
    shutil.rmtree(tmp)


def test_multipart_checkpoint_roundtrip(spark):
    """A checkpoint whose state exceeds rows_per_part is written as
    Delta-spec multi-part files (<v>.checkpoint.<i>.<n>.parquet) and
    reads back identically: snapshot, record count, history, and
    post-checkpoint commits all intact."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/multipart"
    for k in range(4):
        delta_writer.write(spark, _tips_df(spark, 10, 5, 5, offset=50 * k),
                           path, mode="append", partition_by=["day"])
    log = DeltaLog(spark, path)
    n = log.snapshot().count()
    n_hist = log.history().count()

    v = log.checkpoint(rows_per_part=4)  # force several parts
    info = DeltaLog(spark, path).last_checkpoint_info()
    assert info["version"] == v and info["parts"] > 1
    names = sorted(os.listdir(os.path.join(path, "_delta_log")))
    parts = [f for f in names if ".checkpoint." in f and f.endswith(".parquet")]
    p = info["parts"]
    assert parts == [
        f"{v:020d}.checkpoint.{i:010d}.{p:010d}.parquet" for i in range(1, p + 1)
    ]

    log2 = DeltaLog(spark, path)
    assert log2.snapshot().count() == n
    assert log2.record_count() == n
    assert log2.history().count() == n_hist
    # commits after the multi-part checkpoint stack on top of it
    delta_writer.write(spark, _tips_df(spark, 3, 1, 1, offset=999), path,
                       mode="append", partition_by=["day"])
    assert DeltaLog(spark, path).record_count() == n + 5
    shutil.rmtree(tmp)


def test_txn_replay_guard_survives_checkpoint(spark):
    """The idempotent-writer txn marker must survive checkpoint
    truncation (the spec keeps the latest txn per appId in the
    checkpoint), or a post-checkpoint restart would replay old batches."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/txn_table"
    df = _tips_df(spark, 10, 5, 5)
    delta_writer.write(spark, df, path, mode="overwrite")
    delta_writer.write(spark, df, path, txn_app_id="sink-a", txn_version=0)
    delta_writer.write(spark, df, path, txn_app_id="sink-a", txn_version=1)
    log = DeltaLog(spark, path)
    n = log.record_count()
    assert log.last_txn_version("sink-a") == 1
    assert log.last_txn_version("sink-b") is None

    log.checkpoint()
    log = DeltaLog(spark, path)
    assert log.last_txn_version("sink-a") == 1
    # replay of batch 1 after the checkpoint: still skipped
    v = delta_writer.write(spark, df, path, txn_app_id="sink-a", txn_version=1)
    assert v == delta_writer.current_version(path)
    assert DeltaLog(spark, path).record_count() == n
    # independent appIds don't interfere
    delta_writer.write(spark, df, path, txn_app_id="sink-b", txn_version=0)
    assert DeltaLog(spark, path).record_count() == n + df.count()
    shutil.rmtree(tmp)


def test_merge_on_table_with_deletion_vectors(spark):
    """MERGE must go through the DV-aware reader: hit-file detection must
    work on a snapshot that has a DV anti-join applied, and the survivor
    rewrite must not resurrect soft-deleted rows."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/dv_merge"
    base = spark.createDataFrame(
        [(i, float(i), "old") for i in range(20)], "id int, val double, tag string"
    )
    delta_writer.write(spark, base, path, mode="overwrite")
    delta_writer.delete_with_dv(spark, path, "id >= 15")  # soft-delete 15..19
    assert DeltaLog(spark, path).snapshot().count() == 15

    src = spark.createDataFrame(
        [(5, 500.0, "new"), (25, 250.0, "new")], "id int, val double, tag string"
    )
    delta_writer.merge(spark, path, src, ["id"])
    snap = DeltaLog(spark, path).snapshot()
    assert snap.count() == 16  # 15 live - 1 updated + 1 updated + 1 inserted
    assert snap.where("id >= 15 and id < 20").count() == 0  # not resurrected
    assert snap.where("id = 5").collect()[0].tag == "new"
    assert snap.where("id = 25").count() == 1
    shutil.rmtree(tmp)


def test_checkpoint_drops_retired_dvs_vacuum_deletes_sidecars(spark):
    """DV lifecycle hygiene: after apply_deletion_vectors retires a
    vector, checkpoint() compacts the dv action away (its target files
    are all dead) and vacuum physically deletes the orphaned sidecar once
    past retention — the anti-join set stays bounded over table lifetime.
    A still-live vector is kept by both."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/dv_lifecycle"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite",
                       partition_by=["day"])
    v_pre = delta_writer.delete_with_dv(spark, path, "total_bill > 40") - 1
    log = DeltaLog(spark, path)
    remaining = log.snapshot().count()
    assert len(log.deletion_vector_paths()) == 1

    # live vector: checkpoint keeps it, vacuum keeps its sidecar
    log.checkpoint()
    log = DeltaLog(spark, path)
    assert len(log.deletion_vector_paths()) == 1
    assert log.snapshot().count() == remaining

    maintenance.apply_deletion_vectors(spark, path)
    log = DeltaLog(spark, path)
    # still referenced until the next checkpoint compacts it away
    assert len(log.deletion_vector_paths()) == 1
    log.checkpoint()
    log = DeltaLog(spark, path)
    assert log.deletion_vector_paths() == []
    assert log.snapshot().count() == remaining

    # age the sidecar past retention, then vacuum deletes it physically
    deletes_root = os.path.join(path, delta_writer.DELETES_DIR)
    old = 1_000_000_000
    for d in os.listdir(deletes_root):
        os.utime(os.path.join(deletes_root, d), (old, old))
    res = maintenance.vacuum(spark, path, retention_hours=1.0)
    assert res["numDeletedDvSidecars"] == 1
    assert os.listdir(deletes_root) == []
    log = DeltaLog(spark, path)
    assert log.snapshot().count() == remaining
    # time travel to before the delete still works (files within retention)
    assert log.snapshot(as_of=v_pre).count() == 100
    shutil.rmtree(tmp)


def test_dv_table_path_with_encodable_chars(spark):
    """_metadata.file_path percent-encodes special characters; the DV
    anti-join must decode before matching or it silently no-ops and
    soft-deleted rows reappear."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/dv table #1"  # space and '#' both percent-encode
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite",
                       partition_by=["day"])
    delta_writer.delete_with_dv(spark, path, "total_bill > 40")
    log = DeltaLog(spark, path)
    assert log.snapshot().where("total_bill > 40").count() == 0
    assert 0 < log.snapshot().count() < 100
    assert log.record_count() == log.snapshot().count()
    shutil.rmtree(tmp)


def test_zorder_interleaving_prunes_both_columns(spark):
    """True bit-interleaved z-order must narrow per-file min/max for BOTH
    cluster columns; lexicographic sort only narrows the leading one, so
    a range prune on the second column keeps (almost) every file."""
    tmp = tempfile.mkdtemp()
    grid = spark.range(4096).select(
        (F.col("id") % 64).cast("double").alias("x"),
        (F.col("id") / 64).cast("long").cast("double").alias("y"),
    )

    def build(path, interleaved):
        delta_writer.write(spark, grid, path, mode="overwrite")
        size = sum(r.size for r in DeltaLog(spark, path).active_files().collect())
        maintenance.zorder_cluster(
            spark, path, ["x", "y"],
            target_file_size=max(1, size // 12), interleaved=interleaved,
        )
        log = DeltaLog(spark, path)
        total = log.active_files().count()
        pruned_y = log.pruned_files("y", 10.0, 15.0).count()
        pruned_x = log.pruned_files("x", 10.0, 15.0).count()
        return total, pruned_x, pruned_y

    total_z, x_z, y_z = build(f"{tmp}/zed", True)
    total_l, x_l, y_l = build(f"{tmp}/lex", False)
    assert total_z >= 8 and total_l >= 8
    # leading column prunes in both layouts
    assert x_l < total_l and x_z < total_z
    # second column: lexicographic keeps everything, z-order prunes
    assert y_l == total_l
    assert y_z < total_z
    # data preserved
    assert sorted(DeltaLog(spark, f"{tmp}/zed").snapshot().collect()) == sorted(
        grid.collect()
    )
    shutil.rmtree(tmp)


def test_append_schema_evolution(spark):
    """merge_schema append widens the table: new column reads as null for
    old files (logged read schema), old column order preserved, metaData
    re-emitted; without the flag a differing append raises."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/evolve"
    delta_writer.write(spark, _tips_df(spark), path, mode="append")
    wide = _tips_df(spark, 5, 5, 5, offset=200).withColumn("note", F.lit("new"))
    with pytest.raises(ValueError, match="merge_schema"):
        delta_writer.write(spark, wide, path, mode="append")
    delta_writer.write(spark, wide, path, mode="append", merge_schema=True)
    log = DeltaLog(spark, path)
    snap = log.snapshot()
    assert snap.columns[-1] == "note"
    assert snap.count() == 115
    assert snap.where(F.col("note").isNull()).count() == 100  # old files
    assert snap.where(F.col("note") == "new").count() == 15
    # time travel reconstructs the PRE-evolution schema
    assert "note" not in log.snapshot(as_of=0).columns
    # a narrower append (missing new col) back-fills nulls without the flag?
    # no — it also differs from the (now wider) schema, so it needs the flag
    delta_writer.write(spark, _tips_df(spark, 1, 1, 1, offset=400), path,
                       mode="append", merge_schema=True)
    assert DeltaLog(spark, path).snapshot().count() == 118
    shutil.rmtree(tmp)


def test_commit_retry_on_version_collision(spark, monkeypatch):
    """Optimistic concurrency: if another writer takes our version while
    we are committing, the commit retries at the next version instead of
    failing (data files are written once). Simulated by committing a
    competing append between the write's data files and its commit."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/retry"
    delta_writer.write(spark, _tips_df(spark), path, mode="append")
    v = delta_writer.current_version(path)

    real_add = delta_writer._add_action
    fired = []

    def add_action(*a, **k):
        if not fired:
            fired.append(True)
            delta_writer.write(spark, _tips_df(spark, 1, 1, 1, offset=500),
                               path, mode="append")
        return real_add(*a, **k)

    monkeypatch.setattr(delta_writer, "_add_action", add_action)
    got = delta_writer.write(spark, _tips_df(spark, 2, 1, 1, offset=300), path,
                             mode="append")
    assert fired
    assert got == v + 2  # the first free version above the competitor
    assert DeltaLog(spark, path).snapshot().count() == 107
    monkeypatch.setattr(delta_writer, "_add_action", real_add)

    # every attempt collides -> the last collision surfaces
    real_commit = delta_writer._commit

    def always_taken(table_path, version, actions):
        real_commit(table_path, version,
                    [delta_writer._commit_info("WRITE", {}, {})])
        real_commit(table_path, version, actions)

    monkeypatch.setattr(delta_writer, "_commit", always_taken)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        delta_writer.write(spark, _tips_df(spark, 1, 1, 1), path,
                           mode="append")
    shutil.rmtree(tmp)


def test_merge_upserts_by_key(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/merge_me"
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id int, k string, v double"
    )
    delta_writer.write(spark, base, path, mode="overwrite")
    src = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "id int, k string, v double"
    )
    delta_writer.merge(spark, path, src, ["id"])
    log = DeltaLog(spark, path)
    rows = {r.id: (r.k, r.v) for r in log.snapshot().collect()}
    assert rows == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    ops = log.operation_counts()
    assert ops.get("MERGE", 0) == 1
    assert log.record_count() == 4
    shutil.rmtree(tmp)


def test_time_travel_snapshots(spark):
    """snapshot(as_of=v) reconstructs any committed version until vacuum
    deletes the superseded files — including versions at or before a
    checkpoint (raw JSON replay)."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/travel_me"
    delta_writer.write(spark, _tips_df(spark, 10, 5, 5), path,
                       mode="overwrite", partition_by=["day"])  # v0: 20 rows
    delta_writer.write(spark, _tips_df(spark, 3, 3, 3, offset=100), path,
                       mode="append", partition_by=["day"])     # v1: +9
    delta_writer.delete(spark, path, "day = 'Mon'")             # v2
    log = DeltaLog(spark, path)
    assert log.snapshot(as_of=0).count() == 20
    assert log.snapshot(as_of=1).count() == 29
    v2 = log.snapshot(as_of=2)
    assert v2.count() == log.snapshot().count()
    assert v2.where(F.col("day") == "Mon").count() == 0
    # still correct when a checkpoint compacts the log
    log.checkpoint()
    log2 = DeltaLog(spark, path)
    assert log2.snapshot(as_of=0).count() == 20
    assert log2.snapshot(as_of=1).count() == 29
    shutil.rmtree(tmp)


def test_concurrent_commit_collision_refused(spark):
    """Two writers racing to the same version: the second commit must be
    refused (put-if-absent on the log), never silently overwritten."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/race_me"
    delta_writer.write(spark, _tips_df(spark, 2, 2, 2), path, mode="overwrite")
    v = delta_writer.current_version(path)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        delta_writer._commit(path, v, [delta_writer._commit_info("WRITE", {}, {})])
    shutil.rmtree(tmp)


def test_data_skipping_and_zorder_synergy(spark):
    """Files carry min/max stats; scan() prunes at file granularity, and
    a z-order rewrite makes the prune selective (narrow per-file ranges)."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/skip_me"
    # 4 appends with overlapping value ranges -> every file spans ~all ids
    rows = [(float(i), i % 100) for i in range(2000)]
    df = spark.createDataFrame(rows, "val double, bucket int")
    for k in range(4):
        delta_writer.write(spark, df.where(F.col("bucket") % 4 == k), path,
                           mode="append")
    log = DeltaLog(spark, path)
    n_files = log.active_files().count()
    # stats present on every add
    stats_rows = log.active_files().select("num_records").collect()
    assert all(r.num_records for r in stats_rows)

    # before clustering: val ranges overlap, prune keeps ~everything
    before = log.pruned_files("val", 0.0, 99.0).count()

    maintenance.zorder_cluster(spark, path, ["val"], target_file_size=16 * 1024)
    log2 = DeltaLog(spark, path)
    clustered_files = log2.active_files().count()
    assert clustered_files > 1
    after = log2.pruned_files("val", 0.0, 99.0).count()
    assert after < clustered_files  # pruning now skips files
    # the pruned scan returns exactly the matching rows
    got = log2.scan("val", 0.0, 99.0).where(
        (F.col("val") >= 0.0) & (F.col("val") <= 99.0)
    ).count()
    assert got == len([r for r in rows if 0.0 <= r[0] <= 99.0])
    assert before >= after  # clustering never worsens pruning here
    shutil.rmtree(tmp)


def test_scan_applies_deletion_vectors(spark, tmp_path):
    """``scan`` reads through the same live-file scan as ``snapshot``: a
    row a deletion vector soft-deleted stays deleted."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, val double")
    delta_writer.write(spark, df.coalesce(1), path)
    delta_writer.delete_with_dv(spark, path, "id = 5")
    log = DeltaLog(spark, path)
    got = sorted(tuple(r) for r in log.scan("val", 0.0, 99.0).collect())
    assert got == sorted(tuple(r) for r in log.snapshot().collect())
    assert len(got) == 99 and 5 not in {r[0] for r in got}


def test_change_feed(spark):
    """changes() replays file-level adds/removes per version with commit
    timestamps — the incremental-consumption contract."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/cdc_me"
    delta_writer.write(spark, _tips_df(spark, 4, 4, 4), path, mode="overwrite")
    delta_writer.write(spark, _tips_df(spark, 2, 2, 2, offset=50), path,
                       mode="append")
    delta_writer.delete(spark, path, "day = 'Mon'")
    log = DeltaLog(spark, path)
    ch = log.changes().collect()
    assert all(r.ts is not None for r in ch)
    by_ver = {}
    for r in ch:
        by_ver.setdefault(r.version, []).append(r)
    assert set(by_ver) == {0, 1, 2}
    assert all(r.change_type == "add" for r in by_ver[0])
    assert {r.change_type for r in by_ver[2]} == {"add", "remove"}
    # incremental window: only version 2's changes
    tail = log.changes(from_version=2).collect()
    assert {r.version for r in tail} == {2}
    # net adds minus removes == live file count
    net = sum(1 if r.change_type == "add" else -1 for r in ch)
    assert net == log.active_files().count()
    shutil.rmtree(tmp)


def test_restore_to_version_metadata_only(spark):
    """RESTORE to a pre-append version: appended files are removed,
    original files re-added, data equals the as-of snapshot, history
    records RESTORE, and the pre-restore state stays time-travelable."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    df0 = spark.range(0, 5).withColumn("v", F.col("id") * 10)
    delta_writer.write(spark, df0, path, mode="overwrite")       # v0
    df1 = spark.range(5, 9).withColumn("v", F.col("id") * 10)
    delta_writer.write(spark, df1, path, mode="append")          # v1

    m = maintenance.restore(spark, path, 0)                      # v2
    assert m["numRemovedFiles"] >= 1 and m["numRewrittenFiles"] == 0

    log = DeltaLog(spark, path)
    got = sorted((r.id, r.v) for r in log.snapshot().collect())
    assert got == [(i, i * 10) for i in range(5)]
    # pre-restore state still readable via time travel
    assert log.snapshot(as_of=1).count() == 9
    top = log.history().collect()[0]
    assert top.operation == "RESTORE" and top.version == 2
    shutil.rmtree(tmp)


def test_restore_rewrites_files_tainted_by_later_dv(spark):
    """A deletion vector committed AFTER the restore target soft-deletes
    rows in files live at the target; restore must resurrect those rows
    (rewriting the tainted files) while keeping DVs at-or-before the
    target applied."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(
        spark, spark.range(0, 6).withColumn("v", F.col("id") * 10), path,
        mode="overwrite",
    )                                                            # v0
    delta_writer.delete_with_dv(spark, path, "id = 0")           # v1 (early DV)
    delta_writer.write(
        spark, spark.range(6, 8).withColumn("v", F.col("id") * 10), path,
        mode="append",
    )                                                            # v2
    delta_writer.delete_with_dv(spark, path, "id IN (1, 6)")     # v3 (late DV)

    # fresh DeltaLog per read: an instance caches its action scan
    assert sorted(r.id for r in DeltaLog(spark, path).snapshot().collect()) == [
        2, 3, 4, 5, 7,
    ]

    m = maintenance.restore(spark, path, 2)                      # v4
    assert m["numRewrittenFiles"] >= 1
    # id=0 stays deleted (early DV), id=1 and id=6 are back (late DV undone)
    assert sorted(r.id for r in DeltaLog(spark, path).snapshot().collect()) == [
        1, 2, 3, 4, 5, 6, 7,
    ]

    m2 = maintenance.restore(spark, path, 0)                     # v5
    got = sorted(r.id for r in DeltaLog(spark, path).snapshot().collect())
    assert got == [0, 1, 2, 3, 4, 5]
    assert m2["numRemovedFiles"] >= 1
    shutil.rmtree(tmp)


def test_restore_refuses_vacuumed_target(spark):
    """If the files needed by the target version were vacuumed, restore
    raises instead of committing a snapshot that cannot be read."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(spark, spark.range(0, 4), path, mode="overwrite")  # v0
    delta_writer.write(spark, spark.range(4, 6), path, mode="overwrite")  # v1
    import time as _t

    _t.sleep(0.01)  # tombstone ts strictly before the retention cutoff
    res = maintenance.vacuum(spark, path, retention_hours=0.0)            # v2
    assert res["numDeletedFiles"] > 0
    with pytest.raises(RuntimeError, match="vacuum"):
        maintenance.restore(spark, path, 0)
    with pytest.raises(ValueError):
        maintenance.restore(spark, path, 99)
    shutil.rmtree(tmp)


def test_check_constraints_enforced_on_write_and_merge(spark):
    """Delta CHECK constraints: stored in table configuration, validated
    against every written batch in one aggregate pass; violating commits
    are refused before any log entry is written."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"

    def df_of(*rows):
        return spark.createDataFrame(list(rows), "id long, v long")

    delta_writer.write(spark, df_of((0, 0), (1, 10), (2, 20)), path,
                       mode="overwrite")
    delta_writer.set_constraint(spark, path, "v_nonneg", "v >= 0")

    v_before = delta_writer.current_version(path)
    with pytest.raises(ValueError, match="v_nonneg"):
        delta_writer.write(spark, df_of((9, -1)), path, mode="append")
    assert delta_writer.current_version(path) == v_before  # nothing committed

    delta_writer.write(spark, df_of((9, 90)), path, mode="append")
    with pytest.raises(ValueError, match="v_nonneg"):
        delta_writer.merge(spark, path, df_of((1, -5)), ["id"])
    # a constraint the existing data violates cannot be added
    with pytest.raises(ValueError, match="existing rows"):
        delta_writer.set_constraint(spark, path, "v_small", "v < 50")
    # after drop, the formerly-violating write goes through
    delta_writer.drop_constraint(spark, path, "v_nonneg")
    delta_writer.write(spark, df_of((10, -1)), path, mode="append")
    got = sorted(r.v for r in DeltaLog(spark, path).snapshot().collect())
    assert got == [-1, 0, 10, 20, 90]
    shutil.rmtree(tmp)



def test_constraint_violation_leaves_directory_tree_unchanged(spark, tmp_path):
    """A violating partitioned write removes its files and the partition
    directories it created: the table's tree is exactly as before."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(0, 1, "a"), (1, 2, "b")], "id long, v long, p string")
    delta_writer.write(spark, df, path, partition_by=["p"])
    delta_writer.set_constraint(spark, path, "v_pos", "v > 0")

    def tree():
        return sorted(
            os.path.relpath(os.path.join(root, n), path)
            for root, dirs, files in os.walk(path)
            for n in dirs + files
        )

    before = tree()
    bad = spark.createDataFrame(
        [(2, -1, "a"), (3, 5, "new"), (4, 6, "x/y")], "id long, v long, p string"
    )
    with pytest.raises(ValueError, match="v_pos"):
        delta_writer.write(spark, bad, path, mode="append", partition_by=["p"])
    assert tree() == before


def test_not_null_enforced_from_logged_schema(spark):
    """A column logged as nullable=false rejects null values in any
    subsequent batch (merge validates its source against the logged
    schema without schema merging)."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(spark, spark.range(0, 4), path, mode="overwrite")
    bad = spark.range(4, 6).select(
        F.when(F.col("id") < 5, F.col("id")).alias("id")
    )
    with pytest.raises(ValueError, match="NOT NULL"):
        delta_writer.merge(spark, path, bad, ["id"])
    shutil.rmtree(tmp)


def test_shallow_clone_reads_and_evolves_independently(spark):
    """SHALLOW CLONE: zero-copy creation, snapshot parity (incl. partition
    columns resolved from the LOG, not the directory layout), independent
    evolution (append + delete land in the clone only), and vacuum on the
    clone never touches source files."""
    tmp = tempfile.mkdtemp()
    src, dst = f"{tmp}/src", f"{tmp}/dst"
    df = _tips_df(spark, 20, 10, 10)
    delta_writer.write(spark, df, src, mode="overwrite", partition_by=["day"])
    delta_writer.write(spark, _tips_df(spark, 3, 3, 3, offset=300), src,
                       mode="append", partition_by=["day"])

    delta_writer.clone_shallow(spark, src, dst)
    src_rows = sorted(map(tuple, DeltaLog(spark, src).snapshot().collect()))
    got = DeltaLog(spark, dst).snapshot()
    assert sorted(got.columns) == sorted(DeltaLog(spark, src).snapshot().columns)
    assert sorted(map(tuple, got.select(*DeltaLog(spark, src).snapshot().columns)
                      .collect())) == src_rows
    # no data files copied into the clone
    assert delta_writer._list_parquet_rel(dst) == {}

    # clone evolves independently: append + delete
    delta_writer.write(spark, _tips_df(spark, 2, 2, 2, offset=500), dst,
                       mode="append", partition_by=["day"])
    delta_writer.delete(spark, dst, "day = 'Tue'")
    clone_rows = DeltaLog(spark, dst).snapshot()
    assert clone_rows.where(F.col("day") == "Tue").count() == 0
    # source unchanged
    assert sorted(map(tuple, DeltaLog(spark, src).snapshot().collect())) == src_rows

    # vacuum on the clone removes only clone-local orphans, never source data
    n_src_files = len(delta_writer._list_parquet_rel(src))
    maintenance.vacuum(spark, dst, retention_hours=0.0)
    assert len(delta_writer._list_parquet_rel(src)) == n_src_files
    assert DeltaLog(spark, dst).snapshot().where(F.col("day") == "Mon").count() > 0
    shutil.rmtree(tmp)


def test_shallow_clone_unpartitioned_compact_copy_on_write(spark):
    """Compacting a clone rewrites referenced source files into the
    clone's own directory (copy-on-write) and drops the absolute-path
    references; the source keeps its files."""
    tmp = tempfile.mkdtemp()
    src, dst = f"{tmp}/src", f"{tmp}/dst"
    for k in range(3):
        delta_writer.write(spark, spark.range(k * 10, k * 10 + 10), src,
                           mode="append")
    delta_writer.clone_shallow(spark, src, dst)
    res = maintenance.compact(spark, dst, small_file_size=32 * 1024 * 1024)
    assert res["numAddedFiles"] >= 1
    log = DeltaLog(spark, dst)
    assert sorted(r.id for r in log.snapshot().collect()) == list(range(30))
    # all live paths are now clone-local (relative)
    paths = [r.path for r in log.active_files().collect()]
    assert all(not os.path.isabs(p) for p in paths)
    # source intact
    assert sorted(r.id for r in DeltaLog(spark, src).snapshot().collect()) == list(range(30))
    shutil.rmtree(tmp)


def test_deep_clone_copies_files_and_is_fully_independent(spark):
    """DEEP CLONE: snapshot parity with copied (not referenced) files,
    stats carried verbatim, and full storage independence — deleting the
    SOURCE's directory afterwards leaves the clone readable."""
    tmp = tempfile.mkdtemp()
    src, dst = f"{tmp}/src", f"{tmp}/dst"
    delta_writer.write(spark, _tips_df(spark, 20, 10, 10), src,
                       mode="overwrite", partition_by=["day"])
    delta_writer.write(spark, _tips_df(spark, 3, 3, 3, offset=300), src,
                       mode="append", partition_by=["day"])
    src_rows = sorted(map(tuple, DeltaLog(spark, src).snapshot().collect()))

    delta_writer.clone_deep(spark, src, dst)
    log = DeltaLog(spark, dst)
    cols = DeltaLog(spark, src).snapshot().columns
    assert sorted(map(tuple, log.snapshot().select(*cols).collect())) == src_rows
    # every live path is clone-local and physically present
    acts = log.live_add_actions()
    assert acts and all(not os.path.isabs(a["path"]) for a in acts)
    assert all(os.path.isfile(os.path.join(dst, a["path"])) for a in acts)
    # add-stats carried verbatim: record count readable without a scan
    def _stats(a):
        s = a["stats"]
        return json.loads(s) if isinstance(s, str) else s

    assert sum(_stats(a)["numRecords"] for a in acts) == len(src_rows)
    # history records a deep CLONE
    top = DeltaLog(spark, dst).history().collect()[0]
    assert top.operation == "CLONE"
    params = top.operationParameters
    params = json.loads(params) if isinstance(params, str) else params
    assert str(params["isShallow"]).lower() == "false"

    # storage independence: remove the source tree entirely
    shutil.rmtree(src)
    assert sorted(
        map(tuple, DeltaLog(spark, dst).snapshot().select(*cols).collect())
    ) == src_rows
    shutil.rmtree(tmp)


def test_deep_clone_materializes_a_shallow_clone(spark):
    """clone_deep over a shallow clone re-roots the absolute source
    references into local copies — the standard materialization path."""
    tmp = tempfile.mkdtemp()
    src, sh, dp = f"{tmp}/src", f"{tmp}/sh", f"{tmp}/dp"
    delta_writer.write(spark, _tips_df(spark, 8, 4, 4), src,
                       mode="overwrite", partition_by=["day"])
    delta_writer.clone_shallow(spark, src, sh)
    delta_writer.clone_deep(spark, sh, dp)
    want = sorted(map(tuple, DeltaLog(spark, src).snapshot().collect()))
    cols = DeltaLog(spark, src).snapshot().columns
    log = DeltaLog(spark, dp)
    assert sorted(map(tuple, log.snapshot().select(*cols).collect())) == want
    acts = log.live_add_actions()
    assert all(not os.path.isabs(a["path"]) for a in acts)
    # hive layout re-rooted from the logged partitionValues
    assert all(a["path"].startswith(f"day={a['partitionValues']['day']}/")
               for a in acts)
    shutil.rmtree(src)
    shutil.rmtree(sh)
    assert sorted(map(tuple, DeltaLog(spark, dp).snapshot().select(*cols)
                      .collect())) == want
    shutil.rmtree(tmp)


def test_deep_clone_copies_live_deletion_vectors(spark):
    """Live DVs travel with a deep clone: sidecars are copied, the v0
    protocol enumerates deletionVectors, and the clone's snapshot masks
    exactly the rows the source masks — even after the source is gone."""
    tmp = tempfile.mkdtemp()
    src, dst = f"{tmp}/src", f"{tmp}/dst"
    delta_writer.write(spark, spark.range(0, 10), src, mode="overwrite")
    delta_writer.delete_with_dv(spark, src, "id IN (2, 7)")
    delta_writer.clone_deep(spark, src, dst)
    log = DeltaLog(spark, dst)
    assert sorted(r.id for r in log.snapshot().collect()) == [0, 1, 3, 4, 5, 6, 8, 9]
    proto = log.protocol()
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    shutil.rmtree(src)
    assert sorted(r.id for r in DeltaLog(spark, dst).snapshot().collect()) \
        == [0, 1, 3, 4, 5, 6, 8, 9]
    # the clone vacuums/evolves independently of the (gone) source
    delta_writer.write(spark, spark.range(100, 103), dst, mode="append")
    assert DeltaLog(spark, dst).snapshot().count() == 11
    shutil.rmtree(tmp)


def test_convert_to_delta_adopts_parquet_dir_in_place(spark):
    """CONVERT TO DELTA: a plain partitioned parquet directory becomes a
    Delta table without moving a byte — snapshot parity, footer stats
    logged (skipping works immediately), partition columns inferred from
    the hive layout, and normal Delta evolution afterwards."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/plain"
    df = _tips_df(spark, 20, 10, 10)
    df.write.partitionBy("day").parquet(path)
    want = sorted(map(tuple, df.select("total_bill", "tip", "day").collect()))

    delta_writer.convert_to_delta(spark, path)
    log = DeltaLog(spark, path)
    got = log.snapshot().select("total_bill", "tip", "day")
    assert sorted(map(tuple, got.collect())) == want
    assert log.metadata()["partition_columns"] == ["day"]
    # footer stats landed: record counts readable from the log alone
    files = log.active_files().collect()
    assert all(r.num_records is not None for r in files)
    assert sum(r.num_records for r in files) == len(want)
    assert log.history().collect()[-1].operation == "CONVERT"

    # the converted table evolves like any Delta table (conversion logs
    # the partitioned-read column order: partition column last)
    order = [f["name"] for f in log.metadata()["schema"]["fields"]]
    delta_writer.write(spark, _tips_df(spark, 2, 2, 2, offset=400)
                       .select(*order), path,
                       mode="append", partition_by=["day"])
    delta_writer.delete(spark, path, "day = 'Wed'")
    assert DeltaLog(spark, path).snapshot().where(
        F.col("day") == "Wed").count() == 0
    # time travel back to the conversion version
    assert DeltaLog(spark, path).snapshot(as_of=0).count() == len(want)
    shutil.rmtree(tmp)


def test_convert_to_delta_refusals(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(spark, spark.range(0, 5), path, mode="overwrite")
    with pytest.raises(ValueError, match="already a Delta table"):
        delta_writer.convert_to_delta(spark, path)
    empty = f"{tmp}/empty"
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no parquet data files"):
        delta_writer.convert_to_delta(spark, empty)
    plain = f"{tmp}/plain"
    spark.range(0, 5).write.parquet(plain)
    with pytest.raises(ValueError, match="do not match"):
        delta_writer.convert_to_delta(spark, plain, partition_by=["id"])
    shutil.rmtree(tmp)


def test_shallow_clone_refuses_live_dvs_and_existing_target(spark):
    tmp = tempfile.mkdtemp()
    src, dst = f"{tmp}/src", f"{tmp}/dst"
    delta_writer.write(spark, spark.range(0, 6), src, mode="overwrite")
    delta_writer.delete_with_dv(spark, src, "id = 2")
    with pytest.raises(ValueError, match="deletion vectors"):
        delta_writer.clone_shallow(spark, src, dst)
    maintenance.apply_deletion_vectors(spark, src)
    delta_writer.clone_shallow(spark, src, dst)
    assert sorted(r.id for r in DeltaLog(spark, dst).snapshot().collect()) == [0, 1, 3, 4, 5]
    with pytest.raises(ValueError, match="already a Delta table"):
        delta_writer.clone_shallow(spark, src, dst)
    shutil.rmtree(tmp)


def test_describe_detail_fields(spark):
    """DeltaLog.detail() surfaces the DESCRIBE DETAIL fields the
    reference's Spark analyzer consumes (delta_spark_analyzer.py:116-189)."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(spark, _tips_df(spark, 10, 5, 5), path,
                       mode="overwrite", partition_by=["day"])
    d = DeltaLog(spark, path).detail()
    assert d["format"] == "delta"
    assert d["location"] == os.path.abspath(path)
    assert d["partitionColumns"] == ["day"]
    assert d["numFiles"] >= 1 and d["sizeInBytes"] > 0
    assert d["minReaderVersion"] == 1 and d["minWriterVersion"] == 2
    assert d["createdAt"] is not None and d["lastModified"] >= d["createdAt"]
    shutil.rmtree(tmp)


def test_generated_columns_fill_and_validate(spark):
    """Generated columns (delta.generationExpression): a batch omitting
    the column gets it computed; a batch providing disagreeing values is
    refused; the declaration validates existing data; the expression
    survives an overwrite that doesn't change the schema shape."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"

    def df_of(*rows, with_double=True):
        if with_double:
            return spark.createDataFrame(list(rows), "id long, id2 long")
        return spark.createDataFrame(list(rows), "id long")

    delta_writer.write(spark, df_of((1, 2), (2, 4)), path, mode="overwrite")
    with pytest.raises(ValueError, match="existing rows"):
        delta_writer.set_generated_column(spark, path, "id2", "id * 3")
    delta_writer.set_generated_column(spark, path, "id2", "id * 2")

    # batch without the column: computed (no merge_schema needed)
    delta_writer.write(spark, df_of((3,), with_double=False), path, mode="append")
    got = {r.id: r.id2 for r in DeltaLog(spark, path).snapshot().collect()}
    assert got == {1: 2, 2: 4, 3: 6}

    # batch with wrong values: refused
    with pytest.raises(ValueError, match="generated column"):
        delta_writer.write(spark, df_of((4, 99)), path, mode="append")
    # merge with omitted column: filled there too
    delta_writer.merge(spark, path, df_of((4,), with_double=False), ["id"])
    assert {r.id: r.id2 for r in DeltaLog(spark, path).snapshot().collect()}[4] == 8

    # overwrite with the same shape keeps the generation expression
    delta_writer.write(spark, df_of((7, 14)), path, mode="overwrite")
    with pytest.raises(ValueError, match="generated column"):
        delta_writer.write(spark, df_of((8, 0)), path, mode="append")
    shutil.rmtree(tmp)


def test_shallow_clone_of_checkpointed_partitioned_source(spark):
    """Clone a source whose log state comes from a CHECKPOINT: there the
    partitionValues arrive as a map (checkpoint parquet cast), not a
    struct — the clone read must resolve them identically."""
    tmp = tempfile.mkdtemp()
    src, dst = f"{tmp}/src", f"{tmp}/dst"
    delta_writer.write(spark, _tips_df(spark, 10, 5, 5), src,
                       mode="overwrite", partition_by=["day"])
    delta_writer.write(spark, _tips_df(spark, 2, 2, 2, offset=100), src,
                       mode="append", partition_by=["day"])
    DeltaLog(spark, src).checkpoint()
    delta_writer.clone_shallow(spark, src, dst)
    src_rows = sorted(map(tuple, DeltaLog(spark, src).snapshot().collect()))
    cols = DeltaLog(spark, src).snapshot().columns
    got = sorted(map(tuple, DeltaLog(spark, dst).snapshot().select(*cols).collect()))
    assert got == src_rows
    assert DeltaLog(spark, dst).snapshot().where(F.col("day") == "Mon").count() > 0
    shutil.rmtree(tmp)


def test_partition_scoped_compact(spark):
    """OPTIMIZE ... WHERE: only the filtered partition's small files are
    rewritten; other partitions' files are untouched."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    for k in range(3):
        delta_writer.write(spark, _tips_df(spark, 6, 6, 6, offset=40 * k), path,
                           mode="append", partition_by=["day"])
    before = {
        r.path for r in DeltaLog(spark, path).active_files().collect()
    }
    mon_before = {p for p in before if "day=Mon" in p}
    other_before = before - mon_before
    res = maintenance.compact(spark, path, partition_filter={"day": "Mon"})
    assert res["numRemovedFiles"] == len(mon_before) >= 2
    after = {r.path for r in DeltaLog(spark, path).active_files().collect()}
    assert other_before <= after            # untouched partitions intact
    assert not (mon_before & after)         # Mon files rewritten
    assert DeltaLog(spark, path).snapshot().where(F.col("day") == "Mon").count() == 18
    shutil.rmtree(tmp)


def test_rename_column_metadata_only(spark):
    """RENAME COLUMN via column mapping: no file rewrite, old and new
    files read under the new name, predicates/appends/deletes/compaction
    work on the logical name, time travel shows the pre-rename schema."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"

    def df_of(schema, *rows):
        return spark.createDataFrame(list(rows), schema)

    delta_writer.write(spark, df_of("id long, v long", (0, 0), (1, 10)), path,
                       mode="overwrite")                               # v0
    files_before = delta_writer._list_parquet_rel(path)
    delta_writer.rename_column(spark, path, "v", "amount")             # v1
    assert delta_writer._list_parquet_rel(path) == files_before  # no rewrite

    log = DeltaLog(spark, path)
    assert log.snapshot().columns == ["id", "amount"]
    assert sorted((r.id, r.amount) for r in log.snapshot().collect()) == [
        (0, 0), (1, 10),
    ]
    # append under the NEW name: file carries the physical (old) name
    delta_writer.write(spark, df_of("id long, amount long", (2, 20)), path,
                       mode="append")                                  # v2
    snap = DeltaLog(spark, path).snapshot()
    assert sorted((r.id, r.amount) for r in snap.collect()) == [
        (0, 0), (1, 10), (2, 20),
    ]
    # logical-name predicate delete across old and new files
    delta_writer.delete(spark, path, "amount = 10")                    # v3
    assert sorted(r.id for r in DeltaLog(spark, path).snapshot().collect()) == [0, 2]
    # compaction preserves the mapping
    maintenance.compact(spark, path, small_file_size=32 * 1024 * 1024)
    got = DeltaLog(spark, path).snapshot()
    assert got.columns == ["id", "amount"]
    assert sorted((r.id, r.amount) for r in got.collect()) == [(0, 0), (2, 20)]
    # stats-based skipping works on the logical name
    assert DeltaLog(spark, path).pruned_files("amount", 100, 200).count() == 0
    # time travel to v0 reconstructs the pre-rename schema
    assert DeltaLog(spark, path).snapshot(as_of=0).columns == ["id", "v"]
    shutil.rmtree(tmp)


def test_drop_column_and_refusals(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(
        spark,
        spark.createDataFrame([(0, 1, "x"), (1, 2, "y")], "id long, v long, s string"),
        path, mode="overwrite",
    )
    delta_writer.set_constraint(spark, path, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="constraint"):
        delta_writer.rename_column(spark, path, "v", "w")
    with pytest.raises(ValueError, match="constraint"):
        delta_writer.drop_column(spark, path, "v")
    delta_writer.drop_column(spark, path, "s")
    log = DeltaLog(spark, path)
    assert log.snapshot().columns == ["id", "v"]
    # appends no longer need (or accept) the dropped column
    delta_writer.write(
        spark, spark.createDataFrame([(2, 3)], "id long, v long"), path,
        mode="append",
    )
    assert DeltaLog(spark, path).snapshot().count() == 3
    with pytest.raises(ValueError, match="not in table schema"):
        delta_writer.drop_column(spark, path, "nope")
    shutil.rmtree(tmp)


def test_rename_partitioned_data_column(spark):
    """Rename of a non-partition column on a PARTITIONED table; partition
    columns themselves are refused."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(spark, _tips_df(spark, 6, 6, 6), path,
                       mode="overwrite", partition_by=["day"])
    with pytest.raises(ValueError, match="partition"):
        delta_writer.rename_column(spark, path, "day", "weekday")
    delta_writer.rename_column(spark, path, "total_bill", "bill")
    snap = DeltaLog(spark, path).snapshot()
    assert "bill" in snap.columns and "total_bill" not in snap.columns
    assert snap.where(F.col("bill") > 0).count() == snap.count()
    # merge by key under the renamed schema
    upd = snap.limit(1).withColumn("bill", F.lit(999.0))
    delta_writer.merge(spark, path, upd, ["day", "time", "size", "tip"])
    assert DeltaLog(spark, path).snapshot().where(F.col("bill") == 999.0).count() >= 1
    shutil.rmtree(tmp)


def test_shallow_clone_preserves_column_mapping(spark):
    """Cloning a renamed table carries the column mapping: the clone
    reads the source's physical-named files under the logical name."""
    tmp = tempfile.mkdtemp()
    src, dst = f"{tmp}/src", f"{tmp}/dst"
    delta_writer.write(
        spark, spark.createDataFrame([(1, 5), (2, 6)], "id long, v long"),
        src, mode="overwrite",
    )
    delta_writer.rename_column(spark, src, "v", "val")
    delta_writer.clone_shallow(spark, src, dst)
    got = DeltaLog(spark, dst).snapshot()
    assert got.columns == ["id", "val"]
    assert sorted((r.id, r.val) for r in got.collect()) == [(1, 5), (2, 6)]
    shutil.rmtree(tmp)


def test_partition_scoped_zorder(spark):
    """OPTIMIZE WHERE ... ZORDER BY: only the filtered partition is
    rewritten and data is preserved everywhere."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(spark, _tips_df(spark, 8, 8, 8), path,
                       mode="overwrite", partition_by=["day"])
    before = sorted(map(tuple, DeltaLog(spark, path).snapshot().collect()))
    files_before = {r.path for r in DeltaLog(spark, path).active_files().collect()}
    tue_before = {p for p in files_before if "day=Tue" in p}
    res = maintenance.zorder_cluster(
        spark, path, ["total_bill", "tip"], partition_filter={"day": "Tue"}
    )
    assert res["numRemovedFiles"] == len(tue_before) >= 1
    after = {r.path for r in DeltaLog(spark, path).active_files().collect()}
    assert (files_before - tue_before) <= after
    assert sorted(map(tuple, DeltaLog(spark, path).snapshot().collect())) == before
    shutil.rmtree(tmp)


def test_periodic_auto_checkpoint(spark):
    """write(checkpoint_interval=N) folds the log every N commits; reads
    resolve through the checkpoint + tail and match the full replay."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    for k in range(7):
        delta_writer.write(spark, spark.range(k * 3, k * 3 + 3), path,
                           mode="append", checkpoint_interval=3)
    log = DeltaLog(spark, path)
    assert log.last_checkpoint() == 6
    assert sorted(r.id for r in log.snapshot().collect()) == list(range(21))
    # raw-JSON replay (time travel) agrees with the checkpointed read
    assert DeltaLog(spark, path).snapshot(as_of=6).count() == 21
    shutil.rmtree(tmp)


def test_log_reader_handles_many_files(spark):
    """A 500-file commit: snapshot, log-only record count, analyzer, and
    checkpoint all work at file counts where any per-file driver loop or
    quadratic log handling would visibly blow up."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/wide"
    delta_writer.write(
        spark, spark.range(0, 50_000).repartition(500), path, mode="overwrite"
    )
    log = DeltaLog(spark, path)
    assert log.active_files().count() == 500
    assert log.record_count() == 50_000          # log-only, no data scan
    m = HealthAnalyzer(spark).analyze_table(path)
    assert m.data_file_count == 500 and m.record_count == 50_000
    assert m.small_files_count == 500 and m.needs_optimize
    v = log.checkpoint()
    log2 = DeltaLog(spark, path)
    assert log2.last_checkpoint() == v
    assert log2.snapshot().count() == 50_000
    shutil.rmtree(tmp)


def test_history_limit(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    for k in range(4):
        delta_writer.write(spark, spark.range(k, k + 1), path, mode="append")
    log = DeltaLog(spark, path)
    rows = log.history(limit=2).collect()
    assert [r.version for r in rows] == [3, 2]  # newest first, capped
    assert log.history().count() == 4
    shutil.rmtree(tmp)


def test_schema_evolution_preserves_configuration_and_table_id(spark):
    """Re-emitting metaData on a schema-evolving commit must carry the
    existing table configuration (delta.constraints.* keep being
    enforced) and the existing table id (stable for the table's
    lifetime, like Delta) — not a fresh uuid and an empty config."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"

    def df_of(*rows):
        return spark.createDataFrame(list(rows), "id long, v long")

    delta_writer.write(spark, df_of((0, 0), (1, 10)), path, mode="overwrite")
    delta_writer.set_constraint(spark, path, "v_nonneg", "v >= 0")
    table_id = DeltaLog(spark, path).metadata()["id"]

    # schema-evolving append re-emits metaData
    wide = spark.createDataFrame([(2, 20, "x")], "id long, v long, tag string")
    delta_writer.write(spark, wide, path, mode="append", merge_schema=True)
    meta = DeltaLog(spark, path).metadata()
    assert meta["configuration"].get("delta.constraints.v_nonneg") == "v >= 0"
    assert meta["id"] == table_id
    # ... and the constraint is still enforced afterwards
    with pytest.raises(ValueError, match="v_nonneg"):
        delta_writer.write(
            spark,
            spark.createDataFrame([(3, -1, "y")], "id long, v long, tag string"),
            path, mode="append",
        )

    # schema-replacing overwrite also preserves id + configuration
    delta_writer.write(
        spark,
        spark.createDataFrame([(4, 40, 1.0)], "id long, v long, w double"),
        path, mode="overwrite",
    )
    meta2 = DeltaLog(spark, path).metadata()
    assert meta2["id"] == table_id
    assert meta2["configuration"].get("delta.constraints.v_nonneg") == "v >= 0"
    shutil.rmtree(tmp)


def test_restore_tolerates_vacuumed_dv_sidecar(spark):
    """A DV sidecar that checkpoint-GC retired and vacuum deleted must
    not break restore: the retired vector's target files were already
    rewritten, so the vanished sidecar cannot taint the restored
    snapshot and is skipped instead of read."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite",
                       partition_by=["day"])                           # v0
    n0 = DeltaLog(spark, path).snapshot().count()
    delta_writer.delete_with_dv(spark, path, "total_bill > 40")        # v1
    maintenance.apply_deletion_vectors(spark, path)                    # v2
    DeltaLog(spark, path).checkpoint()  # drops the retired dv action
    deletes_root = os.path.join(path, delta_writer.DELETES_DIR)
    old = 1_000_000_000
    for d in os.listdir(deletes_root):
        os.utime(os.path.join(deletes_root, d), (old, old))
    res = maintenance.vacuum(spark, path, retention_hours=1.0)
    assert res["numDeletedDvSidecars"] == 1

    # v0's data files survived the retention window; the only vanished
    # artifact is the retired sidecar — restore must succeed
    maintenance.restore(spark, path, 0)
    assert DeltaLog(spark, path).snapshot().count() == n0
    shutil.rmtree(tmp)


def test_timestamp_as_of_resolution(spark, tmp_path):
    """timestampAsOf: monotonic-adjusted commit timestamps resolve to the
    latest version at-or-before the target; before-history raises."""
    import json
    import os

    import pytest

    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    for i in range(3):
        delta_writer.write(
            spark, spark.range(i * 10, (i + 1) * 10).selectExpr("id"), t
        )

    # rewrite the logged commit timestamps to a controlled, SKEWED series:
    # v0 @ 1000, v1 @ 5000, v2 @ 3000 (v2's clock ran behind v1's).
    # inCommitTimestamp is stripped to simulate a FOREIGN pre-ICT log —
    # this test covers the reader-side fallback adjustment (the ICT path
    # has its own test below).
    for v, ts in [(0, 1000), (1, 5000), (2, 3000)]:
        p = os.path.join(t, "_delta_log", f"{v:020d}.json")
        acts = [json.loads(line) for line in open(p)]
        for a in acts:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts
                a["commitInfo"].pop("inCommitTimestamp", None)
        with open(p, "w") as fh:
            for a in acts:
                fh.write(json.dumps(a) + "\n")

    log = DeltaLog(spark, t)
    # adjusted series: 1000, 5000, 5001 (v2 bumped past v1)
    assert log.commit_timestamps() == [(0, 1000), (1, 5000), (2, 5001)]
    assert log.version_at_timestamp(1000) == 0
    assert log.version_at_timestamp(4999) == 0
    assert log.version_at_timestamp(5000) == 1
    assert log.version_at_timestamp(5001) == 2
    assert log.version_at_timestamp(10_000_000) == 2
    with pytest.raises(ValueError, match="earliest retained"):
        log.version_at_timestamp(999)
    assert log.snapshot_at_timestamp(5000).count() == 20
    assert log.snapshot_at_timestamp(5001).count() == 30


def test_type_widening_on_merge_schema_append(spark, tmp_path):
    """Delta type widening: appending a wider primitive (int->long,
    float->double) with merge_schema widens the TABLE type; old narrow
    files stay readable through Spark's widening parquet reads, and
    time travel still shows the pre-widening schema."""
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    v0 = spark.range(5).selectExpr(
        "CAST(id AS INT) AS a", "CAST(id AS FLOAT) AS b"
    )
    delta_writer.write(spark, v0, t)
    v1 = spark.range(5, 8).selectExpr(
        "CAST(id * 10000000000 AS LONG) AS a", "CAST(id AS DOUBLE) AS b"
    )
    delta_writer.write(spark, v1, t, merge_schema=True)

    log = DeltaLog(spark, t)
    types = {f["name"]: f["type"] for f in log.metadata()["schema"]["fields"]}
    assert types == {"a": "long", "b": "double"}
    snap = log.snapshot()
    assert dict(snap.dtypes) == {"a": "bigint", "b": "double"}
    got = sorted(r.a for r in snap.collect())
    assert got == [0, 1, 2, 3, 4, 50000000000, 60000000000, 70000000000]
    # pre-widening version still reads with the narrow schema
    old_types = {
        f["name"]: f["type"]
        for f in log.metadata(as_of=0)["schema"]["fields"]
    }
    assert old_types == {"a": "integer", "b": "float"}
    assert log.snapshot(as_of=0).count() == 5
    # narrower appends do NOT narrow the table back
    v2 = spark.range(8, 10).selectExpr(
        "CAST(id AS INT) AS a", "CAST(id AS FLOAT) AS b"
    )
    delta_writer.write(spark, v2, t, merge_schema=True)
    log2 = DeltaLog(spark, t)
    types2 = {f["name"]: f["type"] for f in log2.metadata()["schema"]["fields"]}
    assert types2 == {"a": "long", "b": "double"}
    assert log2.snapshot().count() == 10


def test_in_commit_timestamps_are_monotonic_under_clock_skew(
    spark, tmp_path, monkeypatch
):
    """ICT: the commit itself carries the monotonic timestamp authority.
    A writer whose wall clock runs BEHIND the previous committer's still
    produces a strictly increasing inCommitTimestamp series (prev + 1),
    and timestampAsOf resolves against ICT — no reader-side guessing."""
    import json
    import os

    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    real_time = delta_writer.time.time
    base_ms = int(real_time() * 1000)

    # v0 at wall clock +60s; v1 at wall clock -60s (skewed backwards)
    monkeypatch.setattr(delta_writer.time, "time", lambda: base_ms / 1000 + 60)
    delta_writer.write(spark, spark.range(0, 10).selectExpr("id"), t)
    monkeypatch.setattr(delta_writer.time, "time", lambda: base_ms / 1000 - 60)
    delta_writer.write(spark, spark.range(10, 20).selectExpr("id"), t)
    monkeypatch.setattr(delta_writer.time, "time", real_time)

    def commit_info(v):
        p = os.path.join(t, "_delta_log", f"{v:020d}.json")
        for line in open(p):
            a = json.loads(line)
            if "commitInfo" in a:
                return a["commitInfo"]
        raise AssertionError(f"no commitInfo in v{v}")

    ci0, ci1 = commit_info(0), commit_info(1)
    # the wall-clock field records the skew faithfully...
    assert ci1["timestamp"] < ci0["timestamp"]
    # ...but the in-commit timestamp never goes backwards
    assert ci0["inCommitTimestamp"] == ci0["timestamp"]
    assert ci1["inCommitTimestamp"] == ci0["inCommitTimestamp"] + 1

    log = DeltaLog(spark, t)
    assert log.commit_timestamps() == [
        (0, ci0["inCommitTimestamp"]),
        (1, ci1["inCommitTimestamp"]),
    ]
    assert log.version_at_timestamp(ci0["inCommitTimestamp"]) == 0
    assert log.version_at_timestamp(ci1["inCommitTimestamp"]) == 1
    assert log.snapshot_at_timestamp(ci0["inCommitTimestamp"]).count() == 10

    # prove ICT is the AUTHORITY, not a bystander: forge v1's wall-clock
    # timestamp to something absurd — resolution must not move
    p1 = os.path.join(t, "_delta_log", f"{1:020d}.json")
    acts = [json.loads(line) for line in open(p1)]
    for a in acts:
        if "commitInfo" in a:
            a["commitInfo"]["timestamp"] = 10**15
    with open(p1, "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    log2 = DeltaLog(spark, t)
    assert log2.commit_timestamps() == [
        (0, ci0["inCommitTimestamp"]),
        (1, ci1["inCommitTimestamp"]),
    ]


def test_version_checksum_tracks_replay_across_mutations(spark, tmp_path):
    """D54: every commit writes a <v>.crc whose incremental
    tableSizeBytes/numFiles equal the replay-computed file stats, across
    the whole mutation surface (append, overwrite, delete rewrite, DV
    delete, DV apply, compact, z-order); DESCRIBE DETAIL serves from the
    checksum and falls back to replay when it's missing."""
    import json
    import os

    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")

    def check(tag):
        log = DeltaLog(spark, t)
        v = log.version()
        crc_path = os.path.join(t, "_delta_log", f"{v:020d}.crc")
        assert os.path.isfile(crc_path), f"{tag}: no crc for v{v}"
        crc = json.loads(open(crc_path).read())
        stats = log.file_stats()
        assert crc["numFiles"] == stats["data_file_count"], tag
        assert crc["tableSizeBytes"] == stats["table_size_bytes"], tag
        d = log.detail()
        assert d["numFiles"] == stats["data_file_count"], tag
        assert d["sizeInBytes"] == stats["table_size_bytes"], tag

    df = spark.range(0, 1000).selectExpr("id", "id % 7 AS k")
    delta_writer.write(spark, df.repartition(4), t)
    check("v0 write")
    delta_writer.write(spark, df.repartition(2), t, mode="append")
    check("v1 append")
    delta_writer.delete(spark, t, "k = 3")
    check("v2 delete rewrite")
    delta_writer.delete_with_dv(spark, t, "k = 5")
    check("v3 dv delete")  # dv commit: no add/remove, stats unchanged
    maintenance.apply_deletion_vectors(spark, t)
    check("v4 dv apply rewrite")
    maintenance.compact(spark, t, small_file_size=1 << 30,
                        target_file_size=1 << 30)
    check("v5 compact")
    maintenance.zorder_cluster(spark, t, ["k"])
    check("v6 zorder")
    delta_writer.write(spark, df.where("id < 100").repartition(1), t,
                       mode="overwrite")
    check("v7 overwrite")

    # fallback: with the checksum gone, detail() replays and agrees
    log = DeltaLog(spark, t)
    v = log.version()
    os.remove(os.path.join(t, "_delta_log", f"{v:020d}.crc"))
    assert log.version_checksum() is None
    d = log.detail()
    stats = log.file_stats()
    assert d["numFiles"] == stats["data_file_count"]
    assert d["sizeInBytes"] == stats["table_size_bytes"]


def test_protocol_feature_gating_and_upgrades(spark, tmp_path):
    """D55: the Delta protocol is enforced, not decorative. Fresh tables
    are (1,2); the first DV commit upgrades to table-features (3,7) with
    deletionVectors enumerated (plus the legacy-implied features);
    RENAME upgrades to (2,5); protocols demanding unknown capabilities
    refuse reads/writes with clear errors instead of proceeding
    wrongly."""
    import json
    import os

    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    delta_writer.write(
        spark, spark.range(0, 100).selectExpr("id", "id % 5 AS k"), t
    )
    p = DeltaLog(spark, t).protocol()
    assert (p["minReaderVersion"], p["minWriterVersion"]) == (1, 2)
    assert p["readerFeatures"] == [] and p["writerFeatures"] == []

    # first DV delete upgrades to table features in the SAME commit
    delta_writer.delete_with_dv(spark, t, "k = 3")
    p = DeltaLog(spark, t).protocol()
    assert (p["minReaderVersion"], p["minWriterVersion"]) == (3, 7)
    assert "deletionVectors" in p["readerFeatures"]
    assert set(p["writerFeatures"]) >= {
        "deletionVectors", "appendOnly", "invariants"
    }
    # our own reader supports it: snapshot still reads (DV applied)
    assert DeltaLog(spark, t).snapshot().count() == 80
    # a second DV delete must NOT re-emit a protocol action
    v = delta_writer.delete_with_dv(spark, t, "k = 4")
    acts = [json.loads(line) for line in
            open(os.path.join(t, "_delta_log", f"{v:020d}.json"))]
    assert not any("protocol" in a for a in acts)

    # RENAME on a fresh table upgrades to the legacy column-mapping pair
    t2 = str(tmp_path / "t2")
    delta_writer.write(
        spark, spark.range(0, 10).selectExpr("id", "id AS v"), t2
    )
    delta_writer.rename_column(spark, t2, "v", "val")
    p2 = DeltaLog(spark, t2).protocol()
    assert (p2["minReaderVersion"], p2["minWriterVersion"]) == (2, 5)
    assert [r.val for r in DeltaLog(spark, t2).snapshot().collect()[:1]]

    # RENAME on the DV table merges columnMapping into the feature lists
    delta_writer.rename_column(spark, t, "k", "bucket")
    p = DeltaLog(spark, t).protocol()
    assert "columnMapping" in p["readerFeatures"]
    assert "columnMapping" in p["writerFeatures"]
    assert DeltaLog(spark, t).snapshot().columns == ["id", "bucket"]

    # foreign table demanding capabilities we lack: clear refusals
    def bump(path, proto):
        v = delta_writer.current_version(path) + 1
        with open(os.path.join(path, "_delta_log", f"{v:020d}.json"), "w") as f:
            f.write(json.dumps({"protocol": proto}) + "\n")
            f.write(json.dumps({"commitInfo": {
                "timestamp": 1, "operation": "UPGRADE",
                "operationParameters": {}, "operationMetrics": {}}}) + "\n")

    t3 = str(tmp_path / "t3")
    delta_writer.write(spark, spark.range(0, 5).selectExpr("id"), t3)
    # defaultColumns: a real Delta writer feature this engine does NOT
    # maintain (rowTracking graduated in round 5, identityColumns in r7)
    bump(t3, {"minReaderVersion": 3, "minWriterVersion": 7,
              "readerFeatures": ["futureSkippingIndex"],
              "writerFeatures": ["defaultColumns"]})
    with pytest.raises(ValueError, match="unsupported Delta reader features"):
        DeltaLog(spark, t3).snapshot()
    with pytest.raises(ValueError, match="unsupported Delta writer"):
        delta_writer.write(spark, spark.range(5, 10).selectExpr("id"), t3,
                           mode="append")

    t4 = str(tmp_path / "t4")
    delta_writer.write(spark, spark.range(0, 5).selectExpr("id"), t4)
    bump(t4, {"minReaderVersion": 4, "minWriterVersion": 8})
    with pytest.raises(ValueError, match="minReaderVersion=4"):
        DeltaLog(spark, t4).snapshot()
    with pytest.raises(ValueError, match="unsupported Delta writer"):
        delta_writer.delete(spark, t4, "id = 1")

    # legacy minWriterVersion 6 (implies identityColumns, supported
    # since r7): both reading AND writing are fine now
    t5 = str(tmp_path / "t5")
    delta_writer.write(spark, spark.range(0, 5).selectExpr("id"), t5)
    bump(t5, {"minReaderVersion": 1, "minWriterVersion": 6})
    delta_writer.update(spark, t5, "id = 1", {"id": "id + 10"})
    assert DeltaLog(spark, t5).snapshot().count() == 5

    # the driver-side gate survives log cleanup: after checkpoint +
    # metadata cleanup the protocol lives only in the checkpoint parquet
    from delta_lake_health_spark.operators import maintenance

    DeltaLog(spark, t).checkpoint()
    maintenance.cleanup_log(spark, t, retention_hours=0.0)
    from delta_lake_health_spark.sources import log_replay

    p = log_replay.Snapshot(t).protocol()
    assert (p["minReaderVersion"], p["minWriterVersion"]) == (3, 7)
    assert "deletionVectors" in p["writerFeatures"]


def test_generate_symlink_manifest(spark, tmp_path):
    """D56: GENERATE symlink_format_manifest writes per-partition
    manifest files listing exactly the live data files as absolute
    file: URIs; regeneration drops stale partition manifests; live
    deletion vectors are refused (whole-file references would resurrect
    soft-deleted rows)."""
    import os

    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    df = spark.range(0, 100).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS part"
    )
    delta_writer.write(spark, df, t, partition_by=["part"])
    res = maintenance.generate_symlink_manifest(spark, t)
    assert res["numManifestFiles"] == 2

    def read_manifests():
        root = os.path.join(t, "_symlink_format_manifest")
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f == "manifest":
                    rel = os.path.relpath(dirpath, root)
                    out[rel] = sorted(
                        line.strip() for line in open(os.path.join(dirpath, f))
                    )
        return out

    manifests = read_manifests()
    assert set(manifests) == {"part=a", "part=b"}
    live = {
        r.path: "file:" + os.path.abspath(os.path.join(t, r.path))
        for r in DeltaLog(spark, t).live_files_rows()
    }
    listed = {p for paths in manifests.values() for p in paths}
    assert listed == set(live.values())
    assert res["numDataFiles"] == len(live)
    # every manifest line sits under its own partition directory
    for part, paths in manifests.items():
        assert all(f"/{part}/" in p for p in paths)

    # drop partition b via overwrite: regeneration must remove its manifest
    delta_writer.write(
        spark, df.where("part = 'a'"), t, mode="overwrite",
        partition_by=["part"],
    )
    maintenance.generate_symlink_manifest(spark, t)
    assert set(read_manifests()) == {"part=a"}

    # live DVs refuse
    delta_writer.delete_with_dv(spark, t, "id = 2")
    with pytest.raises(ValueError, match="deletion vectors"):
        maintenance.generate_symlink_manifest(spark, t)
    # applying the vectors unblocks generation
    maintenance.apply_deletion_vectors(spark, t)
    res = maintenance.generate_symlink_manifest(spark, t)
    assert res["numDataFiles"] >= 1


def test_auto_compact_property_triggers_optimize(spark, tmp_path):
    """D57: delta.autoOptimize.autoCompact — once the table property is
    set, a write that pushes the small-file population past minNumFiles
    is followed by an automatic OPTIMIZE commit; without the property
    files accumulate."""
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id")
    delta_writer.write(spark, df.repartition(4), t)
    # no property: appends accumulate files, no OPTIMIZE appears
    delta_writer.write(spark, df.repartition(4), t, mode="append")
    ops = [r.operation for r in DeltaLog(spark, t).history().collect()]
    assert "OPTIMIZE" not in ops
    assert DeltaLog(spark, t).active_files().count() == 8

    delta_writer.set_table_property(
        spark, t, "delta.autoOptimize.autoCompact", "true"
    )
    delta_writer.set_table_property(
        spark, t, "delta.autoOptimize.minNumFiles", "10"
    )
    delta_writer.write(spark, df.repartition(4), t, mode="append")
    log = DeltaLog(spark, t)
    ops = [r.operation for r in log.history().collect()]
    assert "OPTIMIZE" in ops
    # 12 small files collapsed into the compaction output
    assert log.active_files().count() < 12
    assert log.snapshot().count() == 3000
    # compaction adds are dataChange=false: invisible to the change feed
    from delta_lake_health_spark.sources.cdf import row_changes

    ch = row_changes(spark, t, log.version(), log.version())
    assert ch.count() == 0


def test_ict_restamped_on_commit_retry(spark, tmp_path):
    """Regression (review finding): commit_mutation retries a rebased
    commit with the SAME actions list — _commit must re-stamp
    inCommitTimestamp on every attempt, or the loser's stale first-try
    stamp lands above the winner's newer one."""
    import json
    import os

    from delta_lake_health_spark.sources import delta_writer

    t = str(tmp_path / "t")
    delta_writer.write(spark, spark.range(0, 10).selectExpr("id"), t)

    actions = [
        {"txn": {"appId": "retry-test", "version": 1, "lastUpdated": 1}},
        delta_writer._commit_info("TXN", {}, {}),
    ]
    # first attempt stamps the commitInfo dict in place at version 1...
    delta_writer._commit(t, 1, actions)
    first = actions[1]["commitInfo"]["inCommitTimestamp"]
    # ...a rebased retry of the same list at version 2 must re-stamp
    delta_writer._commit(t, 2, actions)
    second = actions[1]["commitInfo"]["inCommitTimestamp"]
    assert second > first

    def ict(v):
        p = os.path.join(t, "_delta_log", f"{v:020d}.json")
        for line in open(p):
            a = json.loads(line)
            if "commitInfo" in a:
                return a["commitInfo"]["inCommitTimestamp"]

    assert ict(2) > ict(1) > 0


def test_v2_checkpoint_roundtrip(spark, tmp_path):
    """D58: V2 checkpoints — file actions in _sidecars parquet, non-file
    actions + checkpointMetadata/sidecar index in a UUID top-level file;
    the protocol upgrades to table features with v2Checkpoint BEFORE the
    checkpoint exists; reads reconstruct fully from the checkpoint after
    log cleanup; superseded checkpoints and orphaned sidecars expire."""
    import json
    import os

    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    df = spark.range(0, 300).selectExpr("id", "id % 5 AS k")
    delta_writer.write(spark, df.repartition(3), t)
    delta_writer.write(
        spark, df.selectExpr("id + 1000 AS id", "k"), t, mode="append",
        txn_app_id="app", txn_version=7,
    )
    delta_writer.delete(spark, t, "k = 4")

    v = DeltaLog(spark, t).checkpoint(format="v2", rows_per_part=3)
    log = DeltaLog(spark, t)
    # v0 write, v1 append, v2 delete, v3 = the protocol-upgrade commit
    # that must precede the checkpoint — which then checkpoints v3
    assert v == 3
    p = log.protocol()
    assert (p["minReaderVersion"], p["minWriterVersion"]) == (3, 7)
    assert "v2Checkpoint" in p["readerFeatures"]
    info = log.last_checkpoint_info()
    assert info["format"] == "v2" and info["version"] == v
    assert os.path.isfile(os.path.join(t, "_delta_log", info["path"]))
    sidecars = os.listdir(os.path.join(t, "_delta_log", "_sidecars"))
    assert len(sidecars) >= 2  # rows_per_part=3 forces a split

    # full reconstruction from the checkpoint after history expires
    maintenance.cleanup_log(spark, t, retention_hours=0.0)
    log = DeltaLog(spark, t)
    assert log.snapshot().count() == 480  # 600 - 120 deleted
    assert log.record_count() == 480
    assert log.last_txn_version("app") == 7
    assert log.metadata()["schema"] is not None
    ops = [r.operation for r in log.history().collect()]
    assert "DELETE" in ops and "UPGRADE PROTOCOL" in ops
    # the write gate still resolves the protocol (checkpoint fallback)
    delta_writer.write(
        spark, df.selectExpr("id + 5000 AS id", "k"), t, mode="append"
    )
    assert DeltaLog(spark, t).snapshot().count() == 780

    # a NEWER v2 checkpoint supersedes: old top-level + now-unreferenced
    # sidecars are expired by cleanup
    old_top = info["path"]
    old_sidecars = set(sidecars)
    DeltaLog(spark, t).checkpoint(format="v2")
    res = maintenance.cleanup_log(spark, t, retention_hours=0.0)
    assert res["numDeletedCheckpointFiles"] >= 1
    assert not os.path.isfile(os.path.join(t, "_delta_log", old_top))
    remaining = set(os.listdir(os.path.join(t, "_delta_log", "_sidecars")))
    assert not (remaining & old_sidecars)
    assert DeltaLog(spark, t).snapshot().count() == 780


def test_corrupted_commit_fails_loudly(spark, tmp_path):
    """A truncated commit JSON must ERROR, not silently drop actions:
    PERMISSIVE json reading would turn the mangled line into an all-null
    row and the snapshot would lose files without a trace."""
    import os

    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    delta_writer.write(spark, spark.range(0, 100).selectExpr("id"), t)
    delta_writer.write(
        spark, spark.range(100, 200).selectExpr("id"), t, mode="append"
    )
    assert DeltaLog(spark, t).snapshot().count() == 200
    p = os.path.join(t, "_delta_log", f"{1:020d}.json")
    raw = open(p).read()
    with open(p, "w") as f:
        f.write(raw[: len(raw) // 2])
    with pytest.raises(Exception, match="FAILFAST|Malformed|corrupt"):
        DeltaLog(spark, t).snapshot().count()


def test_string_stats_truncation_is_safe(spark, tmp_path):
    """Long string stats are truncated without ever enabling a FALSE
    prune: min is a plain prefix (still a lower bound), max is the
    prefix adjusted UP (still an upper bound), and skipping with the
    truncated stats keeps every file that can contain a match."""
    import json
    import os

    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    long_a = "a" * 100
    long_z = "z" * 100
    df = spark.createDataFrame(
        [(1, long_a + "early"), (2, long_z + "late")], "id long, s string"
    )
    delta_writer.write(spark, df.coalesce(1), t)

    stats = json.loads(
        json.loads(
            open(os.path.join(t, "_delta_log", f"{0:020d}.json"))
            .read()
            .splitlines()[2]  # protocol, metaData, add
        )["add"]["stats"]
    )
    P = delta_writer.STATS_STRING_PREFIX
    assert stats["minValues"]["s"] == "a" * P
    # max: last char of the prefix incremented ('z'*P -> 'z'*(P-1) + '{')
    assert stats["maxValues"]["s"] == "z" * (P - 1) + "{"
    assert len(stats["minValues"]["s"]) <= P
    assert stats["minValues"]["s"] <= long_a + "early"
    assert stats["maxValues"]["s"] >= long_z + "late"

    # pruning with the truncated stats never skips a file with a match
    log = DeltaLog(spark, t)
    kept = log.pruned_files("s", long_z, long_z + "~").count()
    assert kept == 1  # the file contains z*100+late -> must survive
    # unit edge: untruncatable max (all chars at the ceiling) drops out
    assert delta_writer._truncate_max(chr(0x10FFFF) * (P + 1)) is None
    assert delta_writer._truncate_max("short") == "short"


def test_cluster_by_write_prunes_like_sorted_files(spark, tmp_path):
    """write(cluster_by=...): range-partitioned, sorted ingest gives each
    file a narrow disjoint key range, so a point-range scan prunes to
    ~one file — where the same data written unclustered keeps every
    file alive."""
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    df = spark.range(0, 40_000).selectExpr(
        "id", "CAST(pmod(hash(id), 10000) AS LONG) AS k"
    ).repartition(8)  # shuffled: every partition covers the full k range

    t_plain = str(tmp_path / "plain")
    delta_writer.write(spark, df, t_plain)
    t_clust = str(tmp_path / "clustered")
    delta_writer.write(spark, df, t_clust, cluster_by=["k"])

    plain_kept = DeltaLog(spark, t_plain).pruned_files("k", 100, 200).count()
    clust_kept = DeltaLog(spark, t_clust).pruned_files("k", 100, 200).count()
    plain_total = DeltaLog(spark, t_plain).active_files().count()
    clust_total = DeltaLog(spark, t_clust).active_files().count()
    assert plain_kept == plain_total  # unclustered: nothing prunes
    assert clust_kept <= max(1, clust_total // 3)  # clustered: sharp prune
    # same data either way
    assert (
        DeltaLog(spark, t_clust).snapshot().count()
        == DeltaLog(spark, t_plain).snapshot().count()
        == 40_000
    )
    # file count follows the batch, not the 200-partition shuffle default
    assert clust_total <= 8

    # cluster columns are LOGICAL names: clustering a renamed column
    # works (regression: applied after the physical rename, it crashed)
    delta_writer.rename_column(spark, t_clust, "k", "key")
    delta_writer.write(
        spark,
        spark.range(40_000, 42_000).selectExpr(
            "id", "CAST(pmod(hash(id), 10000) AS LONG) AS key"
        ),
        t_clust,
        mode="append",
        cluster_by=["key"],
    )
    assert DeltaLog(spark, t_clust).snapshot().count() == 42_000


def test_narrow_struct_checkpoint_still_readable(spark):
    """Round-5 advisor (MEDIUM): a checkpoint written by an engine whose
    ACTION_SCHEMA structs had FEWER subfields (protocol before
    readerFeatures/writerFeatures, commitInfo before inCommitTimestamp)
    must stay readable after an upgrade widens the structs — Spark cannot
    cast a narrower struct to a wider one, so actions() reconciles struct
    schemas field by field."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp()
    path = f"{tmp}/narrow_ckpt"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite")
    delta_writer.write(spark, _tips_df(spark, 5, 5, 5, offset=200), path,
                       mode="append")
    log = DeltaLog(spark, path)
    n_before = log.snapshot().count()
    v = log.checkpoint()

    ckpt_file = os.path.join(path, "_delta_log",
                             f"{v:020d}.checkpoint.parquet")
    tbl = pq.read_table(ckpt_file)

    def drop_subfields(tbl, col, drop):
        if col not in tbl.schema.names:
            return tbl
        idx = tbl.schema.get_field_index(col)
        arr = tbl.column(col).combine_chunks()
        keep = [f for f in arr.type if f.name not in drop]
        assert len(keep) < arr.type.num_fields, "nothing dropped"
        new = pa.StructArray.from_arrays(
            [arr.field(f.name) for f in keep],
            fields=keep,
            mask=arr.is_null(),
        )
        return tbl.set_column(idx, pa.field(col, new.type), new)

    tbl = drop_subfields(tbl, "protocol",
                         {"readerFeatures", "writerFeatures"})
    tbl = drop_subfields(tbl, "commitInfo", {"inCommitTimestamp"})
    pq.write_table(tbl, ckpt_file)

    # commit after the (now narrow-schema) checkpoint, then read
    delta_writer.write(spark, _tips_df(spark, 2, 2, 2, offset=400), path,
                       mode="append")
    log2 = DeltaLog(spark, path)
    assert log2.last_checkpoint() == v
    snap = log2.snapshot()
    assert snap.count() == n_before + 6
    # the widened subfields read as NULL, not as an error
    prot = (
        log2.actions()
        .where(F.col("protocol").isNotNull())
        .select("protocol.minReaderVersion", "protocol.readerFeatures")
        .collect()
    )
    assert prot and all(r.readerFeatures is None for r in prot)
    assert all(r.minReaderVersion is not None for r in prot)
    shutil.rmtree(tmp)


def test_checkpoint_file_names_parts_one_is_classic():
    """Round-5 advisor: "parts": 1 from a foreign writer names the classic
    single checkpoint file (the name DeltaLog.checkpoint writes) — not a
    nonexistent .0000000001.0000000001. multi-part name."""
    from delta_lake_health_spark.sources.delta_log import checkpoint_file_names

    assert checkpoint_file_names({"version": 7, "parts": 1}) == [
        f"{7:020d}.checkpoint.parquet"
    ]
    assert checkpoint_file_names({"version": 7}) == [
        f"{7:020d}.checkpoint.parquet"
    ]
    assert checkpoint_file_names({"version": 7, "parts": 2}) == [
        f"{7:020d}.checkpoint.{1:010d}.{2:010d}.parquet",
        f"{7:020d}.checkpoint.{2:010d}.{2:010d}.parquet",
    ]


def test_truncate_max_skips_surrogate_range():
    """Round-5 advisor: incrementing a prefix ending at U+D7FF must skip
    the surrogate block (D800-DFFF) — a lone surrogate is not a valid
    scalar value for non-Python consumers of add.stats."""
    P = delta_writer.STATS_STRING_PREFIX
    s = "x" * (P - 1) + "퟿" + "tail-beyond-prefix"
    out = delta_writer._truncate_max(s)
    assert out == "x" * (P - 1) + ""
    assert out >= s[:P]  # still a valid upper bound for the prefix
    # and the result round-trips through UTF-8 (no lone surrogate)
    out.encode("utf-8")


def test_vacuum_lite_collects_tombstones_without_listing(spark, monkeypatch):
    """VACUUM LITE: candidates come from the log's tombstones only — the
    recursive folder listing must never run, tombstoned files past
    retention are deleted, live files and true orphans survive."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/lite_vac"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite",
                       partition_by=["day"])
    delta_writer.delete(spark, path, "total_bill > 40")  # makes tombstones
    # an orphan the log never saw
    orphan = os.path.join(path, "day=Mon", "orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")

    def boom(*a, **k):
        raise AssertionError("lite vacuum must not list the table folder")

    monkeypatch.setattr(delta_writer, "_list_parquet_rel", boom)
    out = maintenance.vacuum(spark, path, retention_hours=0.0, mode="lite")
    assert out["mode"] == "lite"
    assert out["numDeletedFiles"] >= 1
    for rel in out["files"]:
        assert not os.path.exists(os.path.join(path, rel))
    assert os.path.isfile(orphan)  # lite cannot see orphans, by contract
    # table still reads: only tombstoned (dead) files were removed
    log = DeltaLog(spark, path)
    assert log.snapshot().count() > 0
    monkeypatch.undo()
    # a later FULL vacuum still collects the orphan
    out_full = maintenance.vacuum(spark, path, retention_hours=0.0)
    assert "day=Mon/orphan.parquet" in out_full["files"]
    assert not os.path.exists(orphan)
    shutil.rmtree(tmp)


def test_vacuum_rejects_unknown_mode(spark):
    with pytest.raises(ValueError):
        maintenance.vacuum(spark, "/nonexistent", mode="turbo")


def test_incremental_zorder_rewrites_only_new_files(spark):
    """ZCUBE-style incremental OPTIMIZE ZORDER: a second run over the
    same columns leaves previously clustered files alone and clusters
    only the data appended since."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/inc_z"
    df = spark.range(0, 3000).selectExpr(
        "id", "CAST(id % 50 AS LONG) AS a", "CAST(id % 37 AS LONG) AS b"
    )
    delta_writer.write(spark, df.repartition(4), path)
    out1 = maintenance.zorder_cluster(
        spark, path, ["a", "b"], incremental=True,
        target_file_size=1 << 16,
    )
    assert out1["numRemovedFiles"] == 4
    n_clustered = out1["numAddedFiles"]
    # idempotent: nothing new to cluster
    out_noop = maintenance.zorder_cluster(
        spark, path, ["a", "b"], incremental=True
    )
    assert out_noop.get("skipped") and out_noop["alreadyClustered"] == n_clustered
    # append fresh data; only IT gets rewritten
    delta_writer.write(
        spark,
        spark.range(3000, 3500).selectExpr(
            "id", "CAST(id % 50 AS LONG) AS a", "CAST(id % 37 AS LONG) AS b"
        ).repartition(2),
        path,
    )
    out2 = maintenance.zorder_cluster(
        spark, path, ["a", "b"], incremental=True
    )
    assert out2["numRemovedFiles"] == 2  # just the appended files
    # a DIFFERENT column set ignores the old cube's membership: every
    # live file (old cube + the out2 rewrite) is re-clustered
    out3 = maintenance.zorder_cluster(spark, path, ["b"], incremental=True)
    assert out3["numRemovedFiles"] == n_clustered + out2["numAddedFiles"]
    log = DeltaLog(spark, path)
    assert log.snapshot().count() == 3500
    assert log.record_count() == 3500
    shutil.rmtree(tmp)


def test_compute_stats_backfills_foreign_writer(spark):
    """A stats-less log (foreign writer) skips nothing and falls back to
    scans for counts; COMPUTE STATISTICS backfills footer-derived stats
    metadata-only and restores selective skipping, with the .crc
    checksum staying exact."""
    import json

    tmp = tempfile.mkdtemp()
    path = f"{tmp}/nostats"
    delta_writer.write(
        spark,
        spark.range(0, 900).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .orderBy("id").coalesce(3),
        path,
        cluster_by=["id"],
    )
    # strip the stats from every add action (simulate a foreign writer)
    log_file = os.path.join(path, "_delta_log", f"{0:020d}.json")
    lines = []
    for line in open(log_file):
        a = json.loads(line)
        if "add" in a:
            a["add"].pop("stats", None)
        lines.append(json.dumps(a))
    with open(log_file, "w") as fh:
        fh.write("\n".join(lines) + "\n")

    log = DeltaLog(spark, path)
    assert all(r.num_records is None for r in log.active_files().collect())
    n_files = log.active_files().count()
    assert log.pruned_files("id", 0, 10).count() == n_files  # keeps all

    detail_before = log.detail()
    out = maintenance.compute_stats(spark, path)
    assert out["numFilesBackfilled"] == n_files
    log2 = DeltaLog(spark, path)
    assert all(
        r.num_records is not None for r in log2.active_files().collect()
    )
    # cluster_by gave each file a disjoint id range -> point range prunes
    assert log2.pruned_files("id", 0, 10).count() == 1
    assert log2.record_count() == 900
    detail_after = log2.detail()
    assert detail_after["numFiles"] == detail_before["numFiles"]
    assert detail_after["sizeInBytes"] == detail_before["sizeInBytes"]
    # idempotent
    assert maintenance.compute_stats(spark, path) == {"numFilesBackfilled": 0}
    shutil.rmtree(tmp)


def test_vacuum_lite_never_touches_clone_source_files(spark):
    """Review round-5 (HIGH): a shallow clone's tombstones reference the
    SOURCE table's files by absolute path; lite vacuum must skip
    anything outside the clone's root — deleting them would corrupt the
    source (the clone docstring's explicit guarantee)."""
    tmp = tempfile.mkdtemp()
    src, clone = f"{tmp}/src", f"{tmp}/clone"
    delta_writer.write(
        spark,
        spark.range(0, 200).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .repartition(2),
        src,
    )
    delta_writer.clone_shallow(spark, src, clone)
    # a delete on the clone tombstones the ABSOLUTE source paths
    delta_writer.delete(spark, clone, "id < 150")
    src_files_before = {
        r.path for r in DeltaLog(spark, src).active_files().collect()
    }
    out = maintenance.vacuum(spark, clone, retention_hours=0.0, mode="lite")
    for rel in out["files"]:
        assert not os.path.isabs(rel)
    # every source data file still exists and the source still reads
    for rel in src_files_before:
        assert os.path.isfile(os.path.join(src, rel))
    assert DeltaLog(spark, src).snapshot().count() == 200
    assert DeltaLog(spark, clone).snapshot().count() == 50
    shutil.rmtree(tmp)


def test_backfills_preserve_zcube_tags_and_row_ids(spark):
    """Review round-5 (HIGH): metadata-only re-adds (row-tracking
    backfill, stats backfill) must carry the previous add's ZCUBE tags
    — and compute_stats must keep row ids stable."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/keep_tags"
    df = spark.range(0, 2000).selectExpr(
        "id", "CAST(id % 40 AS LONG) AS a", "CAST(id % 23 AS LONG) AS b"
    )
    delta_writer.write(spark, df.repartition(3), path)
    out1 = maintenance.zorder_cluster(
        spark, path, ["a", "b"], incremental=True, target_file_size=1 << 16
    )
    n_clustered = out1["numAddedFiles"]

    # enable row tracking: the backfill re-add must keep the ZCUBE tags
    delta_writer.enable_row_tracking(spark, path)
    noop = maintenance.zorder_cluster(
        spark, path, ["a", "b"], incremental=True
    )
    assert noop.get("skipped"), "backfill destroyed ZCUBE membership"
    assert noop["alreadyClustered"] == n_clustered

    ids_before = {
        r.id: r._row_id
        for r in DeltaLog(spark, path).row_ids().select("id", "_row_id").collect()
    }
    hwm_before = DeltaLog(spark, path).row_id_high_water_mark()

    # strip stats from the latest adds to force a stats backfill, then
    # verify compute_stats preserves both ids and tags
    import json as _json

    log_dir = os.path.join(path, "_delta_log")
    newest = max(
        f for f in os.listdir(log_dir) if f.endswith(".json")
    )
    lines = []
    for line in open(os.path.join(log_dir, newest)):
        a = _json.loads(line)
        if "add" in a:
            a["add"].pop("stats", None)
        lines.append(_json.dumps(a))
    with open(os.path.join(log_dir, newest), "w") as fh:
        fh.write("\n".join(lines) + "\n")

    out = maintenance.compute_stats(spark, path)
    assert out["numFilesBackfilled"] > 0
    log = DeltaLog(spark, path)
    ids_after = {
        r.id: r._row_id
        for r in log.row_ids().select("id", "_row_id").collect()
    }
    assert ids_after == ids_before  # stable, not reassigned
    assert log.row_id_high_water_mark() == hwm_before
    noop2 = maintenance.zorder_cluster(
        spark, path, ["a", "b"], incremental=True
    )
    assert noop2.get("skipped"), "stats backfill destroyed ZCUBE tags"
    shutil.rmtree(tmp)


def test_pre_r5_checkpoint_missing_new_action_columns(spark):
    """A checkpoint written BEFORE this round's schema additions has no
    cdc/domainMetadata top-level columns and no add.tags/baseRowId
    subfields at all; reading it must null-fill every one of them — the
    upgrade path for every existing table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tempfile.mkdtemp()
    path = f"{tmp}/pre_r5"
    delta_writer.write(spark, _tips_df(spark), path, mode="overwrite")
    log = DeltaLog(spark, path)
    n = log.snapshot().count()
    v = log.checkpoint()
    ckpt = os.path.join(path, "_delta_log", f"{v:020d}.checkpoint.parquet")
    tbl = pq.read_table(ckpt)
    # drop the round-5 top-level columns entirely
    for col in ("cdc", "domainMetadata"):
        if col in tbl.schema.names:
            tbl = tbl.drop_columns([col])
    # and the round-5 add subfields
    arr = tbl.column("add").combine_chunks()
    keep = [f for f in arr.type
            if f.name not in {"tags", "baseRowId", "defaultRowCommitVersion"}]
    new_add = pa.StructArray.from_arrays(
        [arr.field(f.name) for f in keep], fields=keep, mask=arr.is_null()
    )
    tbl = tbl.set_column(
        tbl.schema.get_field_index("add"), pa.field("add", new_add.type),
        new_add,
    )
    pq.write_table(tbl, ckpt)

    delta_writer.write(spark, _tips_df(spark, 2, 2, 2, offset=500), path,
                       mode="append")
    log2 = DeltaLog(spark, path)
    assert log2.snapshot().count() == n + 6
    assert log2.row_id_high_water_mark() == -1  # domain reads as absent
    assert log2.domain_metadata("delta.rowTracking") is None
    # and the table can still ENABLE row tracking from this state
    delta_writer.enable_row_tracking(spark, path)
    ids = [
        r._row_id for r in DeltaLog(spark, path).row_ids().collect()
    ]
    assert None not in ids and len(set(ids)) == len(ids)
    shutil.rmtree(tmp)


def test_fsck_repair_drops_missing_files(spark):
    """FSCK: an out-of-band file deletion makes the snapshot unreadable;
    repair removes the dangling reference (dataChange=true remove), the
    table reads again, and dry_run only reports."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(spark, spark.range(0, 10).withColumn(
        "g", F.col("id") % 2), path, mode="overwrite", partition_by=["g"])
    log = DeltaLog(spark, path)
    files = sorted(r.path for r in log.active_files().collect())
    assert len(files) >= 2
    os.remove(os.path.join(path, files[0]))

    probe = maintenance.fsck_repair(spark, path, dry_run=True)
    assert probe == {"numMissingFiles": 1, "repaired": False}
    res = maintenance.fsck_repair(spark, path)
    assert res == {"numMissingFiles": 1, "repaired": True}
    snap = DeltaLog(spark, path).snapshot()
    remaining = {r.path for r in DeltaLog(spark, path).active_files().collect()}
    assert files[0] not in remaining and len(remaining) == len(files) - 1
    assert 0 < snap.count() < 10
    assert DeltaLog(spark, path).history().collect()[0].operation == "FSCK"
    # idempotent once healthy
    assert maintenance.fsck_repair(spark, path) == {
        "numMissingFiles": 0, "repaired": False}
    shutil.rmtree(tmp)


def test_append_only_table_refuses_data_removal(spark):
    """delta.appendOnly=true enforcement (Delta's appendOnly writer
    feature): appends and insert-only merges keep working, OPTIMIZE
    stays allowed (dataChange=false), but DELETE / DV-DELETE / UPDATE /
    file-rewriting MERGE / OVERWRITE / RESTORE are refused; unsetting
    the property re-enables them."""
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/t"
    delta_writer.write(spark, spark.range(0, 20).withColumn(
        "v", F.col("id") * 2), path, mode="overwrite")
    delta_writer.set_table_property(spark, path, "delta.appendOnly", "true")

    delta_writer.write(spark, spark.range(20, 25).withColumn(
        "v", F.col("id") * 2), path, mode="append")  # appends fine
    # insert-only merge (no key overlap): allowed
    delta_writer.merge(spark, path,
                       spark.range(100, 103).withColumn("v", F.col("id") * 2),
                       key_cols=["id"])
    assert DeltaLog(spark, path).snapshot().count() == 28

    for op in (
        lambda: delta_writer.delete(spark, path, "id = 1"),
        lambda: delta_writer.delete_with_dv(spark, path, "id = 2"),
        lambda: delta_writer.update(spark, path, "id = 3", {"v": "v + 1"}),
        lambda: delta_writer.merge(
            spark, path,
            spark.range(0, 2).withColumn("v", F.lit(0).cast("long")),
            key_cols=["id"]),
        lambda: delta_writer.write(spark, spark.range(0, 1).withColumn(
            "v", F.col("id")), path, mode="overwrite"),
        lambda: maintenance.restore(spark, path, 0),
    ):
        with pytest.raises(ValueError, match="append-only"):
            op()
    # maintenance rewrite is NOT a data removal
    maintenance.compact(spark, path, small_file_size=32 * 1024 * 1024)
    assert DeltaLog(spark, path).snapshot().count() == 28

    delta_writer.set_table_property(spark, path, "delta.appendOnly", "false")
    delta_writer.delete(spark, path, "id = 1")
    assert DeltaLog(spark, path).snapshot().count() == 27
    shutil.rmtree(tmp)
