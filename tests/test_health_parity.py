"""The health report, op/record counts, file stats and VACUUM's candidate
list are answered on the driver from the log replay plus one folder
listing. Each must equal the same answer computed here from the
DataFrame API (``actions()``, ``active_files()``, ``snapshot()``,
``history()``, ``deletion_vectors()``) on every log shape the engine
writes, and the stats path must launch no Spark job at all."""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.operators.health import (
    HealthAnalyzer,
    HealthMetrics,
    _typed,
    health_score,
)
from delta_lake_health_spark.operators.skew import (
    records_per_partition,
    skewness_agg,
)
from delta_lake_health_spark.sources import delta_writer
from delta_lake_health_spark.sources.delta_log import DeltaLog

SMALL_MB = 10.0


def _rows(spark, n, offset=0, parts=("a", "a", "a", "b", "c")):
    return spark.createDataFrame(
        [(offset + i, float(i % 50), parts[i % len(parts)]) for i in range(n)],
        "id long, v double, p string",
    )


def _write(spark, df, path, **kw):
    return delta_writer.write(spark, df.coalesce(2), path, partition_by=["p"], **kw)


def _plant_orphan(path, rel="p=a/part-orphan.parquet"):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": [1], "v": [1.0]}), os.path.join(path, rel))


def _listing(path) -> dict:
    out = {}
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for f in files:
            if f.endswith(".parquet"):
                fp = os.path.join(dirpath, f)
                out[os.path.relpath(fp, path)] = os.path.getsize(fp)
    return out


def _reference(spark, path) -> HealthMetrics:
    """``analyze_table(path)``'s metrics with default thresholds, from
    the DataFrame API and an independent folder walk."""
    log = DeltaLog(spark, path)
    m = HealthMetrics(table_path=os.path.abspath(path))
    m.version_count = log.actions().agg(F.max("version")).first()[0]
    ops = {
        r.operation: r.n
        for r in log.history().groupBy("operation").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    m.number_of_writes = ops.get("WRITE", 0)
    m.number_of_deletes = ops.get("DELETE", 0)
    m.number_of_optimizes = ops.get("OPTIMIZE", 0)
    files = log.active_files().collect()
    sizes = [r.size for r in files]
    m.data_file_count = len(files)
    m.table_size_bytes = sum(sizes)
    m.avg_file_size_bytes = int(sum(sizes) / len(sizes)) if sizes else 0
    m.small_files_count = sum(1 for s in sizes if s < int(SMALL_MB * 1024 * 1024))
    m.needs_optimize = m.data_file_count > 0 and m.small_files_count > m.data_file_count * 0.3
    m.is_compacted = not m.needs_optimize
    m.record_count = log.snapshot().count()
    if all(r.num_records is not None for r in files):
        dv = log.deletion_vectors()
        live = spark.createDataFrame([(r.path,) for r in files], "rel_path string")
        deleted = 0 if dv is None else dv.join(live, "rel_path", "left_semi").count()
        assert m.record_count == sum(r.num_records for r in files) - deleted

    listing = _listing(path)
    live_paths = {r.path for r in files}
    m.total_file_count = len(listing)
    m.folder_size_bytes = sum(listing.values())
    m.orphan_files_count = sum(1 for p in listing if p not in live_paths)
    m.needs_vacuum = (m.table_size_bytes / m.folder_size_bytes if m.folder_size_bytes else 1.0) < 0.7
    m.has_orphan_files = (m.data_file_count / m.total_file_count if m.total_file_count else 1.0) < 0.8
    m.files_needing_vacuum = m.orphan_files_count if m.needs_vacuum else 0
    if m.folder_size_bytes:
        m.storage_efficiency = m.table_size_bytes / m.folder_size_bytes
    if m.data_file_count and m.avg_file_size_bytes:
        m.file_size_efficiency = min(1.0, m.avg_file_size_bytes / (128 * 1024 * 1024))

    cols = log.partition_columns()
    if cols:
        counts = records_per_partition(log.snapshot(), cols)
        row = skewness_agg(counts).first()
        m.skew_metrics = {
            "partition_columns": cols,
            "skewness_max": row.skewness_max,
            "skewness_average": row.skewness_average,
            "is_skewed": row.skewness_max > 0.1,
            "records_per_partition_dict": {r.partition_key: r.cnt for r in counts.collect()},
        }
        m.skewness_max = row.skewness_max
        m.skewness_average = row.skewness_average
        m.is_skewed = m.skew_metrics["is_skewed"]
        m.partition_skewness = row.skewness_max
        m.partition_count = len(m.skew_metrics["records_per_partition_dict"])
    health_score(m)
    return m


# -- table shapes ---------------------------------------------------------------


def _checkpoint_tail(spark, path):
    _write(spark, _rows(spark, 60), path)
    _write(spark, _rows(spark, 20, 100), path, mode="append")
    delta_writer.delete(spark, path, "v > 40")
    DeltaLog(spark, path).checkpoint()
    _write(spark, _rows(spark, 15, 200, ("c", "d")), path, mode="append")
    maintenance.compact(spark, path)
    _plant_orphan(path)


def _multipart(spark, path):
    for k in range(3):
        _write(spark, _rows(spark, 20, 100 * k), path, mode="append")
    DeltaLog(spark, path).checkpoint(rows_per_part=2)
    assert len(glob.glob(os.path.join(path, "_delta_log", "*.checkpoint.*.*.parquet"))) > 1
    _write(spark, _rows(spark, 10, 900), path, mode="append")


def _v2_with_dv(spark, path):
    for k in range(2):
        _write(spark, _rows(spark, 30, 100 * k), path, mode="append")
    DeltaLog(spark, path).checkpoint(format="v2", rows_per_part=3)
    delta_writer.delete_with_dv(spark, path, "v < 7")
    _write(spark, _rows(spark, 10, 900), path, mode="append")


def _dv_and_orphans(spark, path):
    _write(spark, _rows(spark, 80), path)
    delta_writer.delete_with_dv(spark, path, "v > 30")
    delta_writer.delete_with_dv(spark, path, "p = 'c'")  # empties partition c
    _plant_orphan(path)
    _plant_orphan(path, "p=b/part-orphan.parquet")


def _stats_less(spark, path):
    _write(spark, _rows(spark, 40), path)
    log_file = os.path.join(path, "_delta_log", f"{0:020d}.json")
    with open(log_file) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    for a in acts:
        if "add" in a:
            a["add"].pop("stats", None)
    with open(log_file, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in acts) + "\n")
    delta_writer.delete_with_dv(spark, path, "v > 30")


def _null_and_percent(spark, path):
    df = spark.createDataFrame(
        [(i, float(i), [None, "x%y", "plain", "x%y"][i % 4]) for i in range(30)],
        "id long, v double, p string",
    )
    _write(spark, df, path)


def _multi_column_int(spark, path):
    df = spark.createDataFrame(
        [(i, float(i), "ab"[i % 2], [None, 7, 12][i % 3]) for i in range(40)],
        "id long, v double, p string, k int",
    )
    delta_writer.write(spark, df.coalesce(2), path, partition_by=["p", "k"])
    delta_writer.delete_with_dv(spark, path, "v > 30")


def _legacy_escaped_log(spark, path):
    """Older writers logged each partition value as its escaped hive
    directory segment ("x%25y", "__HIVE_DEFAULT_PARTITION__"); such
    tables are read as they were written, never rewritten."""
    df = spark.createDataFrame(
        [(i, float(i), [None, "x%y", "plain"][i % 3], [None, 7, 12, 7][i % 4]) for i in range(48)],
        "id long, v double, p string, k int",
    )
    delta_writer.write(spark, df.coalesce(2), path, partition_by=["p", "k"])
    log_file = os.path.join(path, "_delta_log", f"{0:020d}.json")
    with open(log_file) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    for a in acts:
        if "add" in a:
            segs = [s.split("=", 1) for s in a["add"]["path"].split("/")[:-1]]
            a["add"]["partitionValues"] = dict(segs)
    assert {"x%25y", "__HIVE_DEFAULT_PARTITION__"} <= {
        a["add"]["partitionValues"]["p"] for a in acts if "add" in a
    }
    with open(log_file, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in acts) + "\n")


def _legacy_escaped(spark, path):
    _legacy_escaped_log(spark, path)
    delta_writer.delete_with_dv(spark, path, "v > 40")


def _shallow_clone(spark, path):
    src = path + "_src"
    _null_and_percent(spark, src)
    delta_writer.clone_shallow(spark, src, path)
    _write(spark, _rows(spark, 10, 500), path, mode="append")


SHAPES = {
    "checkpoint_tail": _checkpoint_tail,
    "multipart_checkpoint": _multipart,
    "v2_checkpoint_dv": _v2_with_dv,
    "dv_orphans": _dv_and_orphans,
    "legacy_escaped_partitions": _legacy_escaped,
    "stats_less": _stats_less,
    "null_percent_partitions": _null_and_percent,
    "multi_column_int_partitions": _multi_column_int,
    "shallow_clone": _shallow_clone,
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_report_equals_dataframe_reference(spark, tmp_path, shape):
    path = str(tmp_path / "t")
    SHAPES[shape](spark, path)
    got = HealthAnalyzer(spark).analyze_table(path)
    want = _reference(spark, path)
    assert dataclasses.asdict(got) == dataclasses.asdict(want)

    log = DeltaLog(spark, path)
    assert log.record_count() == want.record_count
    assert log.file_stats() == {
        "data_file_count": want.data_file_count,
        "table_size_bytes": want.table_size_bytes,
        "avg_file_size_bytes": want.avg_file_size_bytes,
    }
    ops = {
        r.operation: r.n
        for r in log.history().groupBy("operation").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert log.operation_counts() == ops
    # full VACUUM's candidates: listed files that are not live, aged by
    # their tombstone's deletionTimestamp or else their mtime
    tombs = {r.path: r.deletionTimestamp for r in log.tombstones().collect()}
    live = {r.path for r in log.active_files().collect()}
    cutoff = int(time.time() * 1000)
    want_files = sorted(
        rel for rel in _listing(path)
        if rel not in live
        and (tombs.get(rel) or int(os.path.getmtime(os.path.join(path, rel)) * 1000)) <= cutoff
    )
    assert maintenance.vacuum(spark, path, retention_hours=0.0, dry_run=True)["files"] == want_files


def test_partition_value_keys_follow_spark_casts():
    """A logged value keys the skew dict as ``cast(cast(v AS type) AS
    string)``; a value not in its type's plain form raises, which sends
    the report to the data scan."""
    assert _typed("007", "integer") == "7"
    assert _typed("-12", "long") == "-12"
    assert _typed(None, "long") is None
    assert _typed("x%y", "string") == "x%y"
    assert _typed("2024-01-05", "date") == "2024-01-05"
    assert _typed("TRUE", "boolean") == "true"
    for value, typ in [("1_000", "long"), ("7.0", "integer"), ("2024-1-5", "date"), ("yes", "boolean")]:
        with pytest.raises(ValueError):
            _typed(value, typ)


def test_partition_values_are_logged_unescaped(spark, tmp_path):
    """A null partition value is logged as JSON null and ``x%y`` as
    itself — not the escaped hive directory segment — so a shallow clone
    (which reads partition values from the log) reads the source's rows
    back, and the report's skew keys are the values themselves."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _null_and_percent(spark, src)
    logged = {
        json.dumps(a["add"]["partitionValues"], sort_keys=True)
        for a in map(json.loads, open(os.path.join(src, "_delta_log", f"{0:020d}.json")))
        if "add" in a
    }
    assert logged == {'{"p": null}', '{"p": "x%y"}', '{"p": "plain"}'}
    assert os.path.isdir(os.path.join(src, "p=x%25y"))
    assert os.path.isdir(os.path.join(src, "p=__HIVE_DEFAULT_PARTITION__"))

    delta_writer.clone_shallow(spark, src, dst)

    def rows(t):
        return sorted((r.id, r.p) for r in DeltaLog(spark, t).snapshot().collect())

    assert rows(dst) == rows(src)
    assert {p for _, p in rows(dst)} == {None, "x%y", "plain"}

    for t in (src, dst):
        counts = HealthAnalyzer(spark).analyze_table(t).skew_metrics["records_per_partition_dict"]
        assert counts == {None: 8, "x%y": 15, "plain": 7}

    # the symlink manifest mirrors the hive layout: escaped again
    maintenance.generate_symlink_manifest(spark, src)
    manifest = os.path.join(src, "_symlink_format_manifest")
    assert sorted(os.listdir(manifest)) == sorted(
        ["p=__HIVE_DEFAULT_PARTITION__", "p=x%25y", "p=plain"]
    )


def test_shallow_clone_of_legacy_escaped_table_reads_source_rows(spark, tmp_path):
    """A shallow clone reads partition values from the log; escaped
    values an older writer logged decode like the source's directories."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _legacy_escaped_log(spark, src)
    delta_writer.clone_shallow(spark, src, dst)

    def rows(t):
        return sorted(((r.id, r.p, r.k) for r in DeltaLog(spark, t).snapshot().collect()), key=lambda r: r[0])

    assert rows(dst) == rows(src)
    assert {p for _, p, _ in rows(dst)} == {None, "x%y", "plain"}


def test_driver_side_answers_launch_no_spark_job(spark, tmp_path):
    """With numRecords on every live add, the report, op counts, record
    count, file stats and VACUUM planning run no Spark job."""
    path = str(tmp_path / "t")
    _checkpoint_tail(spark, path)
    delta_writer.delete_with_dv(spark, path, "v < 5")
    sc = spark.sparkContext
    group, control = f"health-{time.time_ns()}", f"control-{time.time_ns()}"
    sc.setJobGroup(group, "driver-side answers")
    try:
        log = DeltaLog(spark, path)
        HealthAnalyzer(spark).analyze_table(path)
        log.operation_counts()
        log.record_count()
        log.file_stats()
        maintenance.vacuum(spark, path, retention_hours=0.0, dry_run=True)
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
