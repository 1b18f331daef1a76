"""Delta-table health metrics + score.

Same metric surface and scoring formula as the reference
(src/delta_lake_health/health_analyzers/base_analyzer.py:17-101,
src/delta_lake_health/health_analyzers/delta_python_analyzer.py:136-280),
resolved on the driver the way the reference's delta-rs analyzer does:

- version, op counts, live-file sizes and record counts come from the
  driver-side log replay (``sources/log_replay.py``): no data scan and
  no Spark job — for a 100 TB table the log is GBs, not the data;
- orphan files and folder size come from one driver-side listing of the
  table folder (``delta_writer._list_parquet_rel``);
- partition skew groups each live file's record count by its logged
  ``partitionValues`` and applies ``skew.skew_metrics``.

Only when a live add carries no ``stats.numRecords`` (or a partition
value cannot be keyed from the log, see ``_logged_counts``) does the
report scan the data: ``snapshot().count()`` and the snapshot's
per-partition counts.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass, field
from datetime import date
from enum import Enum

from pyspark.sql import SparkSession

from delta_lake_health_spark.operators import skew as skew_ops
from delta_lake_health_spark.sources import delta_log, delta_writer, log_replay


class HealthStatus(str, Enum):
    HEALTHY = "healthy"
    UNHEALTHY = "unhealthy"
    VERY_UNHEALTHY = "very_unhealthy"
    UNKNOWN = "unknown"


@dataclass
class HealthMetrics:
    """Mirror of the reference's DeltaAnalyzerMetrics (plain dataclass)."""

    version_count: int = 0
    partition_count: int = 0
    record_count: int = 0
    is_skewed: bool = False
    skewness_max: float = 0.0
    skewness_average: float = 0.0
    is_compacted: bool = False
    number_of_writes: int = 0
    number_of_deletes: int = 0
    number_of_optimizes: int = 0
    table_size_bytes: int = 0
    folder_size_bytes: int = 0
    needs_vacuum: bool = False
    has_orphan_files: bool = False
    needs_optimize: bool = False
    small_files_count: int = 0
    avg_file_size_bytes: int = 0
    partition_skewness: float | None = None
    data_file_count: int = 0
    orphan_files_count: int = 0
    files_needing_vacuum: int = 0
    file_size_efficiency: float | None = None
    storage_efficiency: float | None = None
    table_path: str = ""
    total_file_count: int = 0
    skew_metrics: dict = field(default_factory=dict)
    health_score: float | None = None
    health_status: HealthStatus | None = None

    def calculate_health_score(self) -> tuple[float, "HealthStatus"]:
        """Reference-API method form of :func:`health_score`
        (base_analyzer.py:52-101)."""
        return health_score(self)

    def print_results(self) -> None:
        """Formatted health summary — field-for-field the reference's
        ``DeltaAnalyzerMetrics.print_results`` (base_analyzer.py:103-135),
        the human-readable front door users actually look at."""
        score, status = self.calculate_health_score()

        print("\nDelta Table Analysis Results:")
        print("----------------------------")
        print(f"Health Score: {score:.1f}/100 ({status.value})")
        print(f"Version Count: {self.version_count}")
        print(f"Record Count: {self.record_count:,}")
        print(
            f"Operations: {self.number_of_writes} writes, "
            f"{self.number_of_deletes} deletes, "
            f"{self.number_of_optimizes} optimizes"
        )
        print(
            f"Skewness: {self.skewness_max:.2f} (Max), "
            f"{self.skewness_average:.2f} (Avg)"
        )

        if self.skew_metrics:
            print("\nPartition Skew Metrics:")
            if "partition_columns" in self.skew_metrics:
                print(
                    "Partition Columns: "
                    + ", ".join(self.skew_metrics["partition_columns"])
                )
            if "records_per_partition_dict" in self.skew_metrics:
                records = self.skew_metrics["records_per_partition_dict"]
                print(f"Partition Count: {len(records)}")
                if records:
                    max_p = max(records.items(), key=lambda x: x[1])
                    min_p = min(records.items(), key=lambda x: x[1])
                    print(f"Max Records: {max_p[1]} (Partition: {max_p[0]})")
                    print(f"Min Records: {min_p[1]} (Partition: {min_p[0]})")

        print(f"Table Size: {self.table_size_bytes / (1024 * 1024):.2f} MB")
        print(f"Folder Size: {self.folder_size_bytes / (1024 * 1024):.2f} MB")
        print(f"Total Files: {self.total_file_count} files")
        print(f"Data Files: {self.data_file_count} files")
        print(f"Small Files: {self.small_files_count} files")
        print(f"Orphan Files: {self.orphan_files_count} files")
        print(f"Needs Vacuum: {self.needs_vacuum}")
        print(f"Has Orphan Files: {self.has_orphan_files}")
        print(f"Needs Optimize: {self.needs_optimize}")


def health_score(m: HealthMetrics) -> tuple[float, HealthStatus]:
    """Exact formula parity with base_analyzer.py:52-101: four 25-point
    components (freshness, maintenance, balance, storage)."""
    max_component = 25.0

    freshness_threshold = 10
    freshness = min(
        m.number_of_writes / freshness_threshold * max_component, max_component
    )

    optimize_ratio = m.number_of_optimizes / max(m.number_of_writes, 1)
    optimize_score = min(optimize_ratio * 10 * (max_component / 2), max_component / 2)
    vacuum_score = 0.0 if m.needs_vacuum else max_component / 2
    maintenance = optimize_score + vacuum_score

    skewness = (
        m.skew_metrics.get("skewness_max", m.skewness_max)
        if m.skew_metrics
        else m.skewness_max
    )
    balance = max_component - min(skewness * 100, max_component)

    small_files_ratio = m.small_files_count / max(m.number_of_writes * 2, 1)
    small_files_penalty = min(
        small_files_ratio * (max_component / 2), max_component / 2
    )
    orphan_penalty = max_component / 2 if m.has_orphan_files else 0.0
    storage = max_component - small_files_penalty - orphan_penalty

    overall = freshness + maintenance + balance + storage
    if overall >= 80:
        status = HealthStatus.HEALTHY
    elif overall >= 50:
        status = HealthStatus.UNHEALTHY
    else:
        status = HealthStatus.VERY_UNHEALTHY
    m.health_score = overall
    m.health_status = status
    return overall, status


# partition column types whose logged value reads back, cast to string,
# as the same text once normalised by ``_typed``; any other type takes
# the data scan for its skew keys
_INTEGRAL_TYPES = {"byte", "short", "integer", "long"}
_LOGGED_KEY_TYPES = _INTEGRAL_TYPES | {"string", "date", "boolean"}


def _typed(value: str | None, typ: str) -> str | None:
    """``cast(cast(value AS typ) AS string)`` for a partition value;
    ValueError when the text is not in its type's plain form."""
    if value is None or typ == "string":
        return value
    if typ in _INTEGRAL_TYPES and re.fullmatch(r"[+-]?[0-9]+", value):
        return str(int(value))
    if typ == "date" and date.fromisoformat(value).isoformat() == value:
        return value
    if typ == "boolean" and value.lower() in ("true", "false"):
        return value.lower()
    raise ValueError(f"partition value {value!r} is not a plain {typ}")


def _logged_counts(
    snap: log_replay.Snapshot, cols: list[str], per_file: dict[str, int]
) -> dict | None:
    """{``records_per_partition`` key: rows}: each live file's record
    count grouped by its logged ``partitionValues``, zero-count
    partitions dropped. None when a value cannot be keyed from the log
    (a partition column of another type, or a value not in its type's
    plain form); the data scan keys those."""
    fields = (snap.metadata().get("schema") or {}).get("fields", [])
    types = [next((f["type"] for f in fields if f["name"] == c), None) for c in cols]
    if not all(t in _LOGGED_KEY_TYPES for t in types):
        return None
    counts: dict = {}
    for a in snap._live_adds():
        pv = delta_writer.logged_partition_values(
            a["path"], a.get("partitionValues") or {}
        )
        vals = []
        for c, t in zip(cols, types):
            try:
                vals.append(_typed(pv.get(c), t))
            except ValueError:
                return None
        k = skew_ops.partition_key(vals)
        counts[k] = counts.get(k, 0) + per_file[a["path"]]
    return {k: n for k, n in counts.items() if n}


class HealthAnalyzer:
    """``HealthAnalyzer(spark).analyze_table(path)`` — the reference's
    ``DeltaAnalyzer`` facade (delta_analyzer.py), one implementation over
    one snapshot of the log (see the module docstring)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def analyze_table(
        self,
        table_path: str,
        skew_threshold: float = 0.1,
        vacuum_size_ratio_threshold: float = 0.7,
        orphan_file_ratio_threshold: float = 0.8,
        small_file_size_mb: float = 10.0,
        small_file_ratio_threshold: float = 0.3,
        collect_partitions: bool = True,
    ) -> HealthMetrics:
        table_path = os.path.abspath(table_path)
        snap = log_replay.table_snapshot(table_path)  # every answer's source
        m = HealthMetrics(table_path=table_path)

        # --- history: version and op counts ------------------------------
        m.version_count = snap.version()
        ops = Counter(ci.get("operation") for ci in snap.commit_infos().values())
        m.number_of_writes = ops.get("WRITE", 0)
        m.number_of_deletes = ops.get("DELETE", 0)
        m.number_of_optimizes = ops.get("OPTIMIZE", 0)

        # --- live-file stats ----------------------------------------------
        stats = delta_log._file_stats(snap)
        m.data_file_count = stats["data_file_count"]
        m.table_size_bytes = stats["table_size_bytes"]
        m.avg_file_size_bytes = stats["avg_file_size_bytes"]
        adds = snap._live_adds()
        small = int(small_file_size_mb * 1024 * 1024)
        m.small_files_count = sum(
            1 for a in adds if a.get("size") is not None and a["size"] < small
        )
        m.needs_optimize = (
            m.data_file_count > 0
            and m.small_files_count
            > m.data_file_count * small_file_ratio_threshold
        )
        m.is_compacted = not m.needs_optimize
        per_file = snap.record_counts()
        m.record_count = (
            delta_log.read_files(self.spark, snap).count()
            if per_file is None else sum(per_file.values())
        )

        # --- folder listing: orphan files + folder size --------------------
        listing = delta_writer._list_parquet_rel(table_path)
        live = {a["path"] for a in adds}
        m.total_file_count = len(listing)
        m.folder_size_bytes = sum(listing.values())
        m.orphan_files_count = sum(1 for p in listing if p not in live)

        size_ratio = (
            m.table_size_bytes / m.folder_size_bytes if m.folder_size_bytes else 1.0
        )
        m.needs_vacuum = size_ratio < vacuum_size_ratio_threshold
        file_ratio = (
            m.data_file_count / m.total_file_count if m.total_file_count else 1.0
        )
        m.has_orphan_files = file_ratio < orphan_file_ratio_threshold
        m.files_needing_vacuum = m.orphan_files_count if m.needs_vacuum else 0
        if m.folder_size_bytes > 0:
            m.storage_efficiency = m.table_size_bytes / m.folder_size_bytes
        if m.data_file_count > 0 and m.avg_file_size_bytes > 0:
            m.file_size_efficiency = min(
                1.0, m.avg_file_size_bytes / (128 * 1024 * 1024)
            )

        # --- partition skew -------------------------------------------------
        cols = snap.metadata().get("partition_columns") or []
        if cols:
            counts = None if per_file is None else _logged_counts(snap, cols, per_file)
            if counts is None:
                counts = {
                    r.partition_key: r.cnt
                    for r in skew_ops.records_per_partition(
                        delta_log.read_files(self.spark, snap), cols
                    ).collect()
                }
            m.skew_metrics = skew_ops.skew_metrics(
                counts, cols, skew_threshold, collect_partitions
            )
            m.skewness_max = m.skew_metrics["skewness_max"]
            m.skewness_average = m.skew_metrics["skewness_average"]
            m.is_skewed = m.skew_metrics["is_skewed"]
            m.partition_skewness = m.skewness_max
            if collect_partitions:
                m.partition_count = len(counts)

        health_score(m)
        return m
