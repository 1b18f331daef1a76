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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from delta_lake_health_spark.sources import delta_writer
from delta_lake_health_spark.sources.delta_log import DeltaLog


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
    from the log's size column, no filesystem stat calls."""
    log = DeltaLog(spark, table_path)
    sizes = log.active_files().select(
        (F.col("size") / (1024.0 * 1024.0)).alias("size_mb")
    )
    bounds = sizes.agg(
        F.min("size_mb").alias("lo"), F.max("size_mb").alias("hi")
    ).collect()[0]
    if bounds.lo is None:
        return spark.createDataFrame(
            [], "bin_start_mb double, bin_end_mb double, n_files long"
        )
    lo, hi = float(bounds.lo), float(bounds.hi)
    width = (hi - lo) / n_bins if hi > lo else 1.0
    binned = sizes.withColumn(
        "bin",
        F.least(
            F.floor((F.col("size_mb") - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(n_bins - 1),
        ),
    )
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_files"))
        .select(
            (F.lit(lo) + F.col("bin") * F.lit(width)).alias("bin_start_mb"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias("bin_end_mb"),
            "n_files",
        )
        .orderBy("bin_start_mb")
    )


def partition_records(spark: SparkSession, table_path: str) -> DataFrame:
    """(partition_key, n_records, n_files, size_bytes) per partition from
    the log's add-file stats — the skew bar chart's data, no scan."""
    log = DeltaLog(spark, table_path)
    cols = log.partition_columns()
    active = log.active_files()
    if not cols:
        key = F.lit("<unpartitioned>")
    else:
        # a null value is labelled like its hive directory
        key = F.concat_ws(
            "/", *[
                F.concat(
                    F.lit(f"{c}="),
                    F.coalesce(
                        F.element_at("partitionValues", c),
                        F.lit(delta_writer.HIVE_DEFAULT_PARTITION),
                    ),
                )
                for c in cols
            ]
        )
    return (
        active.groupBy(key.alias("partition_key"))
        .agg(
            F.sum("num_records").alias("n_records"),
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size").alias("size_bytes"),
        )
        .orderBy("partition_key")
    )


def historical_trends(spark: SparkSession, table_path: str) -> DataFrame:
    """Per-version cumulative state: table size, file count, record count
    after each commit — the 'over time' panels of the reference dashboard,
    reconstructed from the log alone.

    Windowed cumulative sums over (version, add/remove deltas): each add
    contributes +size/+records at its version, each remove -size at its.
    """
    log = DeltaLog(spark, table_path)
    acts = log.actions()
    adds = acts.where(F.col("add").isNotNull()).select(
        "version",
        F.col("add.size").alias("dsize"),
        F.get_json_object("add.stats", "$.numRecords").cast("long").alias("drecs"),
        F.lit(1).alias("dfiles"),
    )
    # removes don't carry size; join back to the add that introduced the path
    add_sizes = acts.where(F.col("add").isNotNull()).select(
        F.col("add.path").alias("path"),
        F.col("add.size").alias("size"),
        F.get_json_object("add.stats", "$.numRecords").cast("long").alias("recs"),
        F.col("version").alias("add_version"),
    )
    w_latest = Window.partitionBy("path").orderBy(F.desc("add_version"))
    latest_add = add_sizes.withColumn(
        "rn", F.row_number().over(w_latest)
    ).where(F.col("rn") == 1).drop("rn", "add_version")
    removes = (
        acts.where(F.col("remove").isNotNull())
        .select(F.col("remove.path").alias("path"), "version")
        .join(latest_add, "path")
        .select(
            "version",
            (-F.col("size")).alias("dsize"),
            (-F.col("recs")).alias("drecs"),
            F.lit(-1).alias("dfiles"),
        )
    )
    deltas = adds.unionByName(removes).groupBy("version").agg(
        F.sum("dsize").alias("dsize"),
        F.sum("drecs").alias("drecs"),
        F.sum("dfiles").alias("dfiles"),
    )
    ts = log.history().select("version", F.timestamp_millis("timestamp").alias("ts"))
    w = Window.orderBy("version").rowsBetween(Window.unboundedPreceding, 0)
    return (
        deltas.join(ts, "version", "left")
        .select(
            "version",
            "ts",
            F.sum("dsize").over(w).alias("table_size_bytes"),
            F.sum("dfiles").over(w).alias("data_file_count"),
            F.sum("drecs").over(w).alias("record_count"),
        )
        .orderBy("version")
    )
