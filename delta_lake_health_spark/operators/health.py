"""Delta-table health metrics + score — Spark-native analyzer.

Same metric surface and scoring formula as the reference
(src/delta_lake_health/health_analyzers/base_analyzer.py:17-101,
src/delta_lake_health/health_analyzers/delta_python_analyzer.py:136-280),
re-expressed over our distributed log reader:

- every log-derived metric (ops counts, version, file sizes, record count)
  is an aggregate over the ``_delta_log`` — NO data scan; for a 100 TB
  table the log is GBs, so `analyze_table` costs seconds, not hours;
- skewness runs on the snapshot as one groupBy + one tiny agg
  (operators/skew.py) instead of the reference's to-pandas collect;
- folder listing (orphan detection, folder size) is parallelized over
  first-level subtrees — on object stores each executor lists its prefix.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_health_spark.operators import skew as skew_ops
from delta_lake_health_spark.sources.delta_log import LOG_DIR, DeltaLog


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


def _list_folder_files(spark: SparkSession, table_path: str) -> DataFrame:
    """(rel_path, size) of every .parquet under the table root, excluding
    the log — the recursive walk of each first-level subtree runs on
    executors, so a million-file table lists in parallel."""
    table_path = os.path.abspath(table_path)
    roots: list[str] = [table_path]
    subdirs = [
        os.path.join(table_path, d)
        for d in os.listdir(table_path)
        # hive convention: _-prefixed dirs are metadata (_delta_log, _deletes)
        if os.path.isdir(os.path.join(table_path, d)) and not d.startswith("_")
    ]
    roots = subdirs or roots

    def walk(root: str):
        for dirpath, dirs, files in os.walk(root):
            dirs[:] = [d for d in dirs if not d.startswith("_")]
            for f in files:
                if f.endswith(".parquet"):
                    fp = os.path.join(dirpath, f)
                    yield (
                        os.path.relpath(fp, table_path).replace(os.sep, "/"),
                        os.path.getsize(fp),
                    )

    def walk_top(root: str):
        # top-level files (non-recursive) for the root itself
        for f in os.listdir(root):
            fp = os.path.join(root, f)
            if f.endswith(".parquet") and os.path.isfile(fp):
                yield (os.path.relpath(fp, table_path).replace(os.sep, "/"),
                       os.path.getsize(fp))

    sc = spark.sparkContext
    rdd = sc.parallelize(roots, max(1, len(roots))).flatMap(walk)
    if subdirs:
        rdd = rdd.union(sc.parallelize([table_path], 1).flatMap(walk_top))
    return spark.createDataFrame(rdd, "rel_path: string, size: long")


class HealthAnalyzer:
    """``HealthAnalyzer(spark).analyze_table(path)`` — the reference's
    ``DeltaAnalyzer`` facade (delta_analyzer.py), single Spark-native
    implementation."""

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
        log = DeltaLog(self.spark, table_path)
        m = HealthMetrics(table_path=os.path.abspath(table_path))
        with log.cached_actions():
            return self._analyze(
                log, m, skew_threshold, vacuum_size_ratio_threshold,
                orphan_file_ratio_threshold, small_file_size_mb,
                small_file_ratio_threshold, collect_partitions,
            )

    def _analyze(
        self,
        log: DeltaLog,
        m: HealthMetrics,
        skew_threshold: float,
        vacuum_size_ratio_threshold: float,
        orphan_file_ratio_threshold: float,
        small_file_size_mb: float,
        small_file_ratio_threshold: float,
        collect_partitions: bool,
    ) -> HealthMetrics:
        """Metric computation proper, over one materialized actions scan
        (every log-derived metric below re-references it)."""
        table_path = log.table_path

        # --- history (log-only): op counts + max version in ONE job ------
        # independent of the three pooled families below — runs from the
        # same pool (r14) so all four jobs overlap; concurrent readers
        # of the cached actions dedupe on the block-manager lock
        hist_agg = log.actions().agg(
            F.max("version").alias("v"),
            *[
                F.sum(
                    F.when(F.col("commitInfo.operation") == op, 1).otherwise(0)
                ).alias(f"n_{op}")
                for op in ("WRITE", "DELETE", "OPTIMIZE")
            ],
        )

        # --- live-file stats (log-only) ----------------------------------
        active = log.active_files().cache()
        try:
            stats_agg = active.agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("size").alias("total_size"),
                F.avg("size").alias("avg_size"),
                F.sum("num_records").alias("n_records"),
                F.sum(
                    F.when(F.col("num_records").isNull(), 1).otherwise(0)
                ).alias("missing_stats"),
                F.sum(
                    F.when(
                        F.col("size") < int(small_file_size_mb * 1024 * 1024), 1
                    ).otherwise(0)
                ).alias("small_files"),
            )

            # folder listing: orphan files + folder size (distributed).
            # One job: the count/size/orphan aggregates share a single
            # walk (the listing is an RDD; a separate anti-join count
            # would re-run it).
            folder = _list_folder_files(self.spark, table_path)
            live_paths = active.select(
                F.col("path").alias("rel_path"), F.lit(1).alias("_live")
            )
            folder_agg = folder.join(
                F.broadcast(live_paths), "rel_path", "left"
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("size").alias("total"),
                F.sum(
                    F.when(F.col("_live").isNull(), 1).otherwise(0)
                ).alias("orphans"),
            )

            def run_skew():
                partition_cols = log.partition_columns()
                if not partition_cols:
                    return None
                return skew_ops.skew_metrics(
                    log.snapshot(), partition_cols, skew_threshold,
                    collect_partitions,
                )

            # The history aggregate and the three metric families are
            # independent jobs over the cached actions; overlap them from
            # a small thread pool so the folder walk and the skew
            # snapshot scan back-fill executors the stats aggregate
            # leaves idle (guide §2.6). Nothing primes the cache first:
            # the pooled jobs race to materialize it, and concurrent
            # first computes may repeat the log scan (results are
            # unaffected).
            from concurrent.futures import ThreadPoolExecutor

            # fail-fast (ADVICE r13): if one pooled action raises, don't
            # block the with-exit on the still-running siblings —
            # cancel_futures drops queued work and wait=False lets the
            # error propagate immediately (an in-flight Spark job may
            # finish in the background; correctness is unaffected, and
            # the unpersist below only disables recompute-from-cache)
            pool = ThreadPoolExecutor(max_workers=4)
            try:
                f_hist = pool.submit(lambda: hist_agg.collect()[0])
                f_stats = pool.submit(lambda: stats_agg.collect()[0])
                f_folder = pool.submit(lambda: folder_agg.collect()[0])
                f_skew = pool.submit(run_skew)
                hist = f_hist.result()
                stats_row = f_stats.result()
                folder_row = f_folder.result()
                skew_result = f_skew.result()
            finally:
                pool.shutdown(wait=False, cancel_futures=True)
            m.number_of_writes = int(hist.n_WRITE or 0)
            m.number_of_deletes = int(hist.n_DELETE or 0)
            m.number_of_optimizes = int(hist.n_OPTIMIZE or 0)
            m.version_count = int(hist.v or 0)

            m.data_file_count = int(stats_row.n_files or 0)
            m.table_size_bytes = int(stats_row.total_size or 0)
            m.avg_file_size_bytes = int(stats_row.avg_size or 0)
            m.small_files_count = int(stats_row.small_files or 0)
            m.record_count = (
                int(stats_row.n_records or 0)
                if not stats_row.missing_stats
                else log.snapshot().count()
            )
            dv = log.deletion_vectors()
            if dv is not None:
                # soft-deleted positions in still-live files make raw add
                # stats an overcount; subtract directly from the already-
                # computed total instead of re-running the stats aggregate
                if stats_row.missing_stats:
                    m.record_count = log.record_count()
                else:
                    m.record_count -= dv.join(
                        F.broadcast(
                            active.select(F.col("path").alias("rel_path"))
                        ),
                        "rel_path",
                        "left_semi",
                    ).count()
            m.needs_optimize = (
                m.data_file_count > 0
                and m.small_files_count
                > m.data_file_count * small_file_ratio_threshold
            )
            m.is_compacted = not m.needs_optimize

            m.total_file_count = int(folder_row.n or 0)
            m.folder_size_bytes = int(folder_row.total or 0)
            m.orphan_files_count = int(folder_row.orphans or 0)
        finally:
            active.unpersist()

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

        # --- skewness on the snapshot (one shuffle; computed in the
        # overlapped pool above) ------------------------------------------
        if skew_result is not None:
            m.skew_metrics = skew_result
            m.skewness_max = m.skew_metrics["skewness_max"]
            m.skewness_average = m.skew_metrics["skewness_average"]
            m.is_skewed = m.skew_metrics["is_skewed"]
            m.partition_skewness = m.skewness_max
            if collect_partitions:
                m.partition_count = len(
                    m.skew_metrics["records_per_partition_dict"]
                )

        health_score(m)
        return m
