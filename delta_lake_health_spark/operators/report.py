"""Dashboard data preparation — tidy DataFrames, no plotting dependency.

The reference renders Plotly figures in notebooks
(src/delta_lake_health/visualization/notebook/*.py); the data wrangling
inside those functions is what we reproduce, as DataFrames a caller can
feed to any charting stack:

- ``ops_timeline``        ← delta_operations.visualize_delta_operations
- ``file_size_histogram`` ← file_distribution.analyze_file_distribution
- ``partition_records``   ← file_distribution (right subplot) / skew bars
- ``historical_trends``   ← detailed_history_metrics.visualize_historical_trends
  (we derive the per-commit trend from the log itself, cumulatively)
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog

_HISTOGRAM_SCHEMA = StructType([
    StructField("bin_start_mb", DoubleType()),
    StructField("bin_end_mb", DoubleType()),
    StructField("n_files", LongType()),
])
_PARTITION_SCHEMA = StructType([
    StructField("partition_key", StringType()),
    StructField("n_records", LongType()),
    StructField("n_files", LongType()),
    StructField("size_bytes", LongType()),
])
_TRENDS_SCHEMA = StructType([
    StructField(name, LongType())
    for name in ("version", "ts_ms", "table_size_bytes", "data_file_count", "record_count")
])


def ops_timeline(spark: SparkSession, table_path: str) -> DataFrame:
    """One row per commit: version, timestamp, operation, files added /
    removed, rows written — the hover/marker data of the reference's
    operations timeline."""
    log = DeltaLog(spark, table_path)
    h = log.history()
    return h.select(
        "version",
        F.timestamp_millis(F.col("timestamp")).alias("ts"),
        "operation",
        F.coalesce(F.element_at("operationMetrics", "numFiles").cast("long"),
                   F.element_at("operationMetrics", "numAddedFiles").cast("long"),
                   F.lit(0)).alias("num_files_added"),
        F.coalesce(F.element_at("operationMetrics", "numRemovedFiles").cast("long"),
                   F.lit(0)).alias("num_files_removed"),
        F.coalesce(F.element_at("operationMetrics", "numOutputRows").cast("long"),
                   F.lit(0)).alias("num_output_rows"),
    ).orderBy("version")


def file_size_histogram(
    spark: SparkSession, table_path: str, n_bins: int = 20
) -> DataFrame:
    """(bin_start_mb, bin_end_mb, n_files) over live data files — computed
    on the driver from the log replay's add sizes: no filesystem stat
    call and no Spark job."""
    sizes = [
        a["size"] / (1024.0 * 1024.0)
        for a in log_replay.Snapshot(table_path)._live_adds()
        if a.get("size") is not None
    ]
    rows = []
    if sizes:
        lo, hi = min(sizes), max(sizes)
        width = (hi - lo) / n_bins if hi > lo else 1.0
        counts = Counter(
            min(math.floor((x - lo) / width), n_bins - 1) for x in sizes
        )
        rows = [
            {"bin_start_mb": lo + b * width, "bin_end_mb": lo + (b + 1) * width,
             "n_files": counts[b]}
            for b in sorted(counts)
        ]
    return DeltaLog(spark, table_path)._local(rows, _HISTOGRAM_SCHEMA)


def _sum(values) -> int | None:
    """SQL ``SUM``: nulls skipped, null when every value is null."""
    known = [x for x in values if x is not None]
    return sum(known) if known else None


def partition_records(spark: SparkSession, table_path: str) -> DataFrame:
    """(partition_key, n_records, n_files, size_bytes) per partition from
    the log's add-file stats — the skew bar chart's data, computed on the
    driver from the log replay: no scan and no Spark job."""
    log = DeltaLog(spark, table_path)
    snap = log_replay.Snapshot(table_path)
    cols = snap.metadata().get("partition_columns", [])
    groups: dict[str, list[dict]] = {}
    for a in snap._live_adds():
        pv = a.get("partitionValues") or {}
        # a null value is labelled like its hive directory
        key = "/".join(
            f"{c}={delta_writer.HIVE_DEFAULT_PARTITION if pv.get(c) is None else pv[c]}"
            for c in cols
        ) if cols else "<unpartitioned>"
        groups.setdefault(key, []).append(a)
    rows = [
        {
            "partition_key": key,
            "n_records": _sum(log_replay._num_records(a.get("stats")) for a in adds),
            "n_files": len(adds),
            "size_bytes": _sum(a.get("size") for a in adds),
        }
        for key, adds in sorted(groups.items())
    ]
    return log._local(rows, _PARTITION_SCHEMA)


def historical_trends(spark: SparkSession, table_path: str) -> DataFrame:
    """Per-version cumulative state: table size, file count, record count
    after each commit — the 'over time' panels of the reference dashboard,
    reconstructed on the driver from the log replay, with no Spark job.

    Running sums over per-version deltas: each add contributes
    +size/+records/+1 file at its version, each remove the negated size
    and records of the newest add of its path (removes carry no size).
    """
    log = DeltaLog(spark, table_path)
    snap = log_replay.Snapshot(table_path)
    acts = snap.actions()
    if not acts:
        raise FileNotFoundError(f"empty delta log: {log.log_dir}")
    newest_add: dict[str, dict] = {}
    for r in acts:
        add = r.get("add")
        if add is not None and (
            add.get("path") not in newest_add
            or r["version"] >= newest_add[add.get("path")]["version"]
        ):
            newest_add[add.get("path")] = {**add, "version": r["version"]}
    deltas: dict[int, list[tuple]] = {}
    for r in acts:
        if r.get("add") is not None:
            a, sign = r["add"], 1
        elif r.get("remove") is not None and r["remove"].get("path") in newest_add:
            a, sign = newest_add[r["remove"]["path"]], -1
        else:
            continue
        recs = log_replay._num_records(a.get("stats"))
        deltas.setdefault(r["version"], []).append((
            None if a.get("size") is None else sign * a["size"],
            None if recs is None else sign * recs,
            sign,
        ))
    infos = snap.commit_infos()
    rows, running = [], [None, None, None]
    for v in sorted(deltas):
        running = [
            _sum([total, _sum(d[i] for d in deltas[v])])
            for i, total in enumerate(running)
        ]
        rows.append({
            "version": v,
            "ts_ms": log_replay.info_timestamp(infos.get(v) or {}),
            "table_size_bytes": running[0],
            "data_file_count": running[2],
            "record_count": running[1],
        })
    return log._local(rows, _TRENDS_SCHEMA).select(
        "version",
        F.timestamp_millis("ts_ms").alias("ts"),
        "table_size_bytes",
        "data_file_count",
        "record_count",
    )
