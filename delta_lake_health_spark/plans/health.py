"""Health-metric queries over the testdata tables (SURVEY §2.1 D5-D7).

These expose the skewness operators as driver-checkable queries with DuckDB
oracles: partition skewness of ``orders`` by order month and of ``lineitem``
by return flag, plus the records-per-partition breakdown. The full
Delta-table analyzer (log reconstruction, orphan files, maintenance) lives
in ``operators/health.py`` + ``sources/delta_log.py`` and is pytest-driven
— it needs a Delta table on disk, not a plain parquet input.

Reference parity: skew formulas from
src/delta_lake_health/health_analyzers/delta_python_analyzer.py:68-73.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_health_spark.operators.skew import records_per_partition, skewness_agg
from delta_lake_health_spark.sources.catalog import load

QUERIES: dict = {}
ORACLE: dict = {}


def query(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _skew_sql(counts_subquery: str) -> str:
    return f"""
    WITH counts AS ({counts_subquery}),
    m AS (SELECT AVG(cnt) AS mean_cnt FROM counts)
    SELECT ROUND(CASE WHEN COUNT(*) <= 1 OR MAX(cnt) = 0 THEN 0.0
                 ELSE (MAX(cnt) - MIN(cnt)) / CAST(MAX(cnt) AS DOUBLE) END, 6)
             AS skewness_max,
           ROUND(CASE WHEN COUNT(*) <= 1 OR MAX(mean_cnt) = 0 THEN 0.0
                 ELSE AVG(ABS(cnt - mean_cnt)) / MAX(mean_cnt) END, 6)
             AS skewness_average,
           COUNT(*) AS n_partitions
    FROM counts CROSS JOIN m
    """


# --------------------------------------------------------------------------
# D5/D6 — skewness of orders by order month (both methods, one row).
@query(
    "skew_orders_by_month",
    _skew_sql(
        "SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS pk, "
        "COUNT(*) AS cnt FROM orders GROUP BY 1"
    ),
)
def skew_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
    )
    return skewness_agg(records_per_partition(orders, ["order_month"]))


# --------------------------------------------------------------------------
# D5/D6 — skewness of lineitem by return flag (a genuinely skewed key).
@query(
    "skew_lineitem_returnflag",
    _skew_sql("SELECT l_returnflag AS pk, COUNT(*) AS cnt FROM lineitem GROUP BY 1"),
)
def skew_lineitem_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return skewness_agg(records_per_partition(li, ["l_returnflag"]))


# --------------------------------------------------------------------------
# D7 — records-per-partition breakdown (the dict, as a DataFrame).
@query(
    "records_per_partition_orders",
    """
    SELECT o_orderstatus AS partition_key, COUNT(*) AS cnt
    FROM orders GROUP BY 1 ORDER BY partition_key
    """,
)
def records_per_partition_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return records_per_partition(orders, ["o_orderstatus"]).orderBy("partition_key")


# --------------------------------------------------------------------------
# D5/D6 multi-column variant — composite partition key (status, priority),
# rendered like the reference's str(tuple) keys.
@query(
    "skew_orders_status_priority",
    _skew_sql(
        "SELECT o_orderstatus || '|' || o_orderpriority AS pk, COUNT(*) AS cnt "
        "FROM orders GROUP BY 1"
    ),
)
def skew_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").withColumn(
        "status_priority", F.concat_ws("|", "o_orderstatus", "o_orderpriority")
    )
    return skewness_agg(records_per_partition(orders, ["status_priority"]))


# --------------------------------------------------------------------------
# D8-D14 end-to-end — the full analyzer over a deterministic Delta fixture,
# oracle-checked: the DuckDB side re-derives every metric from the raw
# ``_delta_log`` JSON (add/remove reconciliation as a window over versions)
# plus a parquet glob for the folder/orphan view. The fixture is built with
# pure pyarrow at import time (sources/fixture.py), so it exists before
# either side of the driver's compare runs; both engines read the same
# files, so metrics agree bit-for-bit.
from delta_lake_health_spark.sources.fixture import (
    FIXTURE_PATH,
    build_once,
    ensure_fixture,
)

try:  # never let a /tmp hiccup break module import
    ensure_fixture()
except Exception:  # pragma: no cover
    pass


def _build_delta_fixture(marker: str, build, clean: list[str], deps: tuple = ()) -> None:
    """``build_once`` for a fixture built through the Delta writer: its
    definition hash also covers the writer, maintenance and log modules,
    so a change to any of them rebuilds the fixture instead of reusing
    one an older tree wrote."""
    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.sources import delta_log, delta_writer, log_replay

    build_once(
        marker, build, clean=clean,
        deps=(*deps, delta_writer, maintenance, delta_log, log_replay),
    )


_FIXTURE_LOG_COLUMNS = (
    "{'add': 'STRUCT(path VARCHAR, partitionValues STRUCT(day VARCHAR), "
    "size BIGINT, modificationTime BIGINT, dataChange BOOLEAN, stats VARCHAR)', "
    "'remove': 'STRUCT(path VARCHAR, deletionTimestamp BIGINT, dataChange BOOLEAN)', "
    "'commitInfo': 'STRUCT(timestamp BIGINT, operation VARCHAR)'}"
)

_ANALYZER_ORACLE = f"""
    WITH acts AS (
      SELECT *, CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT)
               AS version
      FROM read_json('{FIXTURE_PATH}/_delta_log/*.json',
                     format='newline_delimited', filename=true,
                     columns={_FIXTURE_LOG_COLUMNS})
    ),
    ranked AS (
      SELECT COALESCE(add.path, remove.path) AS path,
             add IS NOT NULL AS is_add,
             add.size AS size,
             CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
               AS nrec,
             add.partitionValues.day AS day,
             ROW_NUMBER() OVER (
               PARTITION BY COALESCE(add.path, remove.path)
               ORDER BY version DESC, (add IS NOT NULL) DESC) AS rn
      FROM acts WHERE add IS NOT NULL OR remove IS NOT NULL
    ),
    live AS (SELECT * FROM ranked WHERE rn = 1 AND is_add),
    ops AS (SELECT commitInfo.operation AS op FROM acts
            WHERE commitInfo IS NOT NULL),
    files AS (SELECT replace(file, '{FIXTURE_PATH}/', '') AS rel
              FROM glob('{FIXTURE_PATH}/**/*.parquet')
              WHERE substr(replace(file, '{FIXTURE_PATH}/', ''), 1, 1) <> '_'),
    orph AS (SELECT rel FROM files WHERE rel NOT IN (SELECT path FROM live)),
    dvrows AS (SELECT rel_path, row_index
               FROM read_parquet('{FIXTURE_PATH}/_deletes/*/*.parquet')),
    live_dv AS (SELECT d.rel_path, COUNT(*) AS n_del
                FROM dvrows d JOIN live ON live.path = d.rel_path
                GROUP BY 1),
    pc AS (SELECT day,
                  CAST(SUM(nrec - COALESCE(n_del, 0)) AS BIGINT) AS cnt
           FROM live LEFT JOIN live_dv ON live.path = live_dv.rel_path
           GROUP BY day),
    sk AS (SELECT MAX(cnt) AS mx, MIN(cnt) AS mn, AVG(cnt) AS mean,
                  COUNT(*) AS np FROM pc),
    skdev AS (SELECT AVG(ABS(cnt - (SELECT mean FROM sk))) AS adev FROM pc)
    SELECT
      (SELECT MAX(version) FROM acts) AS version_count,
      (SELECT COUNT(*) FROM ops WHERE op = 'WRITE') AS n_writes,
      (SELECT COUNT(*) FROM ops WHERE op = 'DELETE') AS n_deletes,
      (SELECT COUNT(*) FROM ops WHERE op = 'OPTIMIZE') AS n_optimizes,
      (SELECT COUNT(*) FROM live) AS data_file_count,
      (SELECT CAST(SUM(cnt) AS BIGINT) FROM pc) AS record_count,
      (SELECT CAST(SUM(size) AS BIGINT) FROM live) AS table_size_bytes,
      (SELECT COUNT(*) FROM live WHERE size < 10 * 1024 * 1024)
        AS small_files_count,
      (SELECT COUNT(*) FROM files) AS total_file_count,
      (SELECT COUNT(*) FROM orph) AS orphan_files_count,
      (SELECT COUNT(*) FROM live WHERE size < 10 * 1024 * 1024)
        > (SELECT COUNT(*) FROM live) * 0.3 AS needs_optimize,
      (SELECT CAST(COUNT(*) AS DOUBLE) FROM live)
        / (SELECT COUNT(*) FROM files) < 0.8 AS has_orphan_files,
      ROUND((sk.mx - sk.mn) / CAST(sk.mx AS DOUBLE), 6) AS skewness_max,
      ROUND((SELECT adev FROM skdev) / sk.mean, 6) AS skewness_average
    FROM sk
"""


# --------------------------------------------------------------------------
# D21 end-to-end — time travel: reconstruct the table as of version 0 and
# count actual data rows per partition. The oracle replays only the v0
# log entries and reads the per-file numRecords stats — agreement proves
# the raw-JSON replay selects exactly the v0 file set AND that the files
# still hold their logged row counts (vacuum honored time travel).
_TIME_TRAVEL_ORACLE = f"""
    WITH acts AS (
      SELECT *, CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT)
               AS version
      FROM read_json('{FIXTURE_PATH}/_delta_log/*.json',
                     format='newline_delimited', filename=true,
                     columns={_FIXTURE_LOG_COLUMNS})
    )
    SELECT add.partitionValues.day AS day,
           CAST(SUM(CAST(json_extract_string(add.stats, '$.numRecords')
                         AS BIGINT)) AS BIGINT) AS n_records
    FROM acts
    WHERE add IS NOT NULL AND version = 0
    GROUP BY 1 ORDER BY 1
"""


@query("delta_time_travel_v0", _TIME_TRAVEL_ORACLE)
def delta_time_travel_v0(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    path = ensure_fixture()
    snap = DeltaLog(spark, path).snapshot(as_of=0)
    return (
        snap.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# CDC change feed — one row per file-level change across the whole log;
# the oracle reads the raw JSON directly.
_CHANGE_FEED_ORACLE = f"""
    WITH acts AS (
      SELECT *, CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT)
               AS version
      FROM read_json('{FIXTURE_PATH}/_delta_log/*.json',
                     format='newline_delimited', filename=true,
                     columns={_FIXTURE_LOG_COLUMNS})
    )
    SELECT version, 'add' AS change_type, add.path AS path,
           CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
             AS num_records,
           add.size AS size
    FROM acts WHERE add IS NOT NULL
    UNION ALL
    SELECT version, 'remove', remove.path, NULL, NULL
    FROM acts WHERE remove IS NOT NULL
    ORDER BY version, change_type, path
"""


@query("delta_change_feed", _CHANGE_FEED_ORACLE)
def delta_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    path = ensure_fixture()
    return (
        DeltaLog(spark, path)
        .changes()
        .select("version", "change_type", "path", "num_records", "size")
        .orderBy("version", "change_type", "path")
    )


# --------------------------------------------------------------------------
# D26 end-to-end — stats-based data skipping: live files whose [min, max]
# interval for `idx` intersects [100, 250]. The oracle applies the same
# interval test to the logged minValues/maxValues after the same
# add/remove reconciliation.
_SKIP_LO, _SKIP_HI = 100, 250

_SKIPPING_ORACLE = f"""
    WITH acts AS (
      SELECT *, CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT)
               AS version
      FROM read_json('{FIXTURE_PATH}/_delta_log/*.json',
                     format='newline_delimited', filename=true,
                     columns={_FIXTURE_LOG_COLUMNS})
    ),
    ranked AS (
      SELECT COALESCE(add.path, remove.path) AS path,
             add IS NOT NULL AS is_add,
             CAST(json_extract_string(add.stats, '$.minValues.idx') AS DOUBLE)
               AS lo,
             CAST(json_extract_string(add.stats, '$.maxValues.idx') AS DOUBLE)
               AS hi,
             ROW_NUMBER() OVER (
               PARTITION BY COALESCE(add.path, remove.path)
               ORDER BY version DESC, (add IS NOT NULL) DESC) AS rn
      FROM acts WHERE add IS NOT NULL OR remove IS NOT NULL
    )
    SELECT path FROM ranked
    WHERE rn = 1 AND is_add
      AND (lo IS NULL OR hi IS NULL
           OR (hi >= {_SKIP_LO} AND lo <= {_SKIP_HI}))
    ORDER BY path
"""


@query("delta_skipping_prune", _SKIPPING_ORACLE)
def delta_skipping_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    path = ensure_fixture()
    return (
        DeltaLog(spark, path)
        .pruned_files("idx", _SKIP_LO, _SKIP_HI)
        .orderBy("path")
    )


# --------------------------------------------------------------------------
# D26b — conjunctive skipping + partition pruning in ONE log pass:
# files passing (idx interval) AND (val interval) AND (day IN set).
# The oracle replays the identical reconciliation + per-column interval
# tests + partitionValues membership from the raw log, so a missed
# conjunct or a partition filter applied to the wrong reconciliation
# rank breaks the hash.
_MSKIP = {"idx": (90, 610), "val": (20.0, 26.0), "days": ("Mon", "Tue")}

_MULTI_SKIPPING_ORACLE = f"""
    WITH acts AS (
      SELECT *, CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT)
               AS version
      FROM read_json('{FIXTURE_PATH}/_delta_log/*.json',
                     format='newline_delimited', filename=true,
                     columns={_FIXTURE_LOG_COLUMNS})
    ),
    ranked AS (
      SELECT COALESCE(add.path, remove.path) AS path,
             add IS NOT NULL AS is_add,
             CAST(json_extract_string(add.stats, '$.minValues.idx') AS DOUBLE)
               AS ilo,
             CAST(json_extract_string(add.stats, '$.maxValues.idx') AS DOUBLE)
               AS ihi,
             CAST(json_extract_string(add.stats, '$.minValues.val') AS DOUBLE)
               AS vlo,
             CAST(json_extract_string(add.stats, '$.maxValues.val') AS DOUBLE)
               AS vhi,
             add.partitionValues.day AS day,
             ROW_NUMBER() OVER (
               PARTITION BY COALESCE(add.path, remove.path)
               ORDER BY version DESC, (add IS NOT NULL) DESC) AS rn
      FROM acts WHERE add IS NOT NULL OR remove IS NOT NULL
    )
    SELECT path FROM ranked
    WHERE rn = 1 AND is_add
      AND (ilo IS NULL OR ihi IS NULL
           OR (ihi >= {_MSKIP["idx"][0]} AND ilo <= {_MSKIP["idx"][1]}))
      AND (vlo IS NULL OR vhi IS NULL
           OR (vhi >= {_MSKIP["val"][0]} AND vlo <= {_MSKIP["val"][1]}))
      AND day IN ('{_MSKIP["days"][0]}', '{_MSKIP["days"][1]}')
    ORDER BY path
"""


@query("delta_skipping_conjunction", _MULTI_SKIPPING_ORACLE)
def delta_skipping_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    path = ensure_fixture()
    return (
        DeltaLog(spark, path)
        .pruned_files_multi(
            [("idx", *_MSKIP["idx"]), ("val", *_MSKIP["val"])],
            partition_filter={"day": list(_MSKIP["days"])},
        )
        .orderBy("path")
    )


# --------------------------------------------------------------------------
# D31 end-to-end — deletion vectors applied by BOTH engines from first
# principles: Spark reconstructs the snapshot and anti-joins the
# position-delete sidecar via _metadata.row_index; the oracle replays the
# log, reads the live parquet with file_row_number, anti-joins the same
# sidecar, and aggregates the actual data (counts + sum of idx) — so a
# row excluded or included wrongly on either side shows up in the values.
_DV_SNAPSHOT_ORACLE = f"""
    WITH acts AS (
      SELECT *, CAST(regexp_extract(filename, '(\\d+)\\.json', 1) AS BIGINT)
               AS version
      FROM read_json('{FIXTURE_PATH}/_delta_log/*.json',
                     format='newline_delimited', filename=true,
                     columns={_FIXTURE_LOG_COLUMNS})
    ),
    ranked AS (
      SELECT COALESCE(add.path, remove.path) AS path,
             add IS NOT NULL AS is_add,
             ROW_NUMBER() OVER (
               PARTITION BY COALESCE(add.path, remove.path)
               ORDER BY version DESC, (add IS NOT NULL) DESC) AS rn
      FROM acts WHERE add IS NOT NULL OR remove IS NOT NULL
    ),
    live AS (SELECT path FROM ranked WHERE rn = 1 AND is_add),
    dvrows AS (SELECT rel_path, row_index
               FROM read_parquet('{FIXTURE_PATH}/_deletes/*/*.parquet')),
    data AS (
      SELECT idx,
             replace(filename, '{FIXTURE_PATH}/', '') AS rel,
             file_row_number AS ri,
             regexp_extract(filename, 'day=([A-Za-z]+)', 1) AS day
      FROM read_parquet('{FIXTURE_PATH}/day=*/*.parquet',
                        filename=true, file_row_number=true)
    )
    SELECT day, COUNT(*) AS n_records, CAST(SUM(idx) AS BIGINT) AS sum_idx
    FROM data
    WHERE rel IN (SELECT path FROM live)
      AND NOT EXISTS (SELECT 1 FROM dvrows d
                      WHERE d.rel_path = data.rel AND d.row_index = data.ri)
    GROUP BY day ORDER BY day
"""


@query("delta_dv_snapshot", _DV_SNAPSHOT_ORACLE)
def delta_dv_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    path = ensure_fixture()
    snap = DeltaLog(spark, path).snapshot()
    return (
        snap.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("idx").cast("long").alias("sum_idx"),
        )
        .orderBy("day")
    )


@query("health_analyzer_report", _ANALYZER_ORACLE)
def health_analyzer_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full analyzer pass over the fixture table; emits the log-derivable
    metric row (sf_dir is unused — the fixture is scale-independent)."""
    from delta_lake_health_spark.operators.health import HealthAnalyzer

    path = ensure_fixture()
    m = HealthAnalyzer(spark).analyze_table(path)
    row = (
        int(m.version_count),
        int(m.number_of_writes),
        int(m.number_of_deletes),
        int(m.number_of_optimizes),
        int(m.data_file_count),
        int(m.record_count),
        int(m.table_size_bytes),
        int(m.small_files_count),
        int(m.total_file_count),
        int(m.orphan_files_count),
        bool(m.needs_optimize),
        bool(m.has_orphan_files),
        float(m.skewness_max),
        float(m.skewness_average),
    )
    return spark.createDataFrame(
        [row],
        "version_count long, n_writes long, n_deletes long, n_optimizes long, "
        "data_file_count long, record_count long, table_size_bytes long, "
        "small_files_count long, total_file_count long, "
        "orphan_files_count long, needs_optimize boolean, "
        "has_orphan_files boolean, skewness_max double, "
        "skewness_average double",
    )


# --------------------------------------------------------------------------
# Incremental materialized-view maintenance (operators/mv.py) as an
# oracle-checked query. The source table is a deterministic function of
# range(1000) — v0 appends ids 0..599, v1 appends 600..999, v2 DV-deletes
# ids % 10 == 0 — and the MV (count + sum by k = id % 7) is maintained
# INCREMENTALLY through the row-level change feed: created after v0,
# refreshed after v1 (reads only the 4 appended files) and after v2
# (reads only the DV sidecar + touched files). The oracle is the closed
# form of the final state over DuckDB's range(), so a refresh that
# double-applied or missed a delta cannot hash-match.
_MV_FIXTURE = "/tmp/delta_lake_health_spark_fixture/mv_source"
_MV_VIEW = "/tmp/delta_lake_health_spark_fixture/mv_view"
_MV_MARKER = os.path.join(_MV_VIEW, "_MV_FIXTURE_COMPLETE")

_MV_ORACLE = """
    SELECT CAST(id % 7 AS BIGINT) AS k,
           COUNT(*) AS n_rows,
           CAST(SUM((id * 31) % 101) AS BIGINT) AS sum_v
    FROM range(1000) t(id)
    WHERE id % 10 <> 0
    GROUP BY 1 ORDER BY 1
"""


def _ensure_mv_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.operators import mv as mv_ops
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:

        def rows(lo: int, hi: int):
            return spark.range(lo, hi).selectExpr(
                "id", "CAST(id % 7 AS BIGINT) AS k",
                "CAST((id * 31) % 101 AS BIGINT) AS v"
            )

        delta_writer.write(spark, rows(0, 600).repartition(4), _MV_FIXTURE)   # v0
        mv_ops.create_mv(spark, _MV_FIXTURE, _MV_VIEW, ["k"], ["v"])
        delta_writer.write(spark, rows(600, 1000).repartition(4), _MV_FIXTURE)  # v1
        mv_ops.refresh_mv(spark, _MV_FIXTURE, _MV_VIEW, ["k"], ["v"])
        delta_writer.delete_with_dv(spark, _MV_FIXTURE, "id % 10 = 0")        # v2
        mv_ops.refresh_mv(spark, _MV_FIXTURE, _MV_VIEW, ["k"], ["v"])

    _build_delta_fixture(_MV_MARKER, build, clean=[_MV_FIXTURE, _MV_VIEW])


@query("delta_mv_refresh", _MV_ORACLE)
def delta_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state of the incrementally-maintained MV (sf_dir unused —
    the fixture is scale-independent)."""
    from delta_lake_health_spark.operators import mv as mv_ops

    _ensure_mv_fixture(spark)
    return (
        mv_ops.read_mv(spark, _MV_VIEW)
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("sum_v").cast("long").alias("sum_v"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Column-level data profiling (the deequ/Glue-profiler-style table audit a
# health toolkit pairs with file-level metrics): one row per column of
# ``orders`` with null count, exact distinct count, and typed min/max
# (numeric columns in min/max_numeric, string/timestamp in min/max_text).
# Scale shape: ONE aggregation pass computes every column's stats
# (count-distincts expand the pass per column but never rescan the
# table), then the 1-row result explodes to |columns| rows driver-side.
_PROFILE_NUM = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_TXT = ("o_orderstatus", "o_orderpriority")
_PROFILE_TS = ("o_orderdate",)


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM:
        parts.append(f"""
        SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(MIN({c}) AS DOUBLE) AS min_numeric,
               CAST(MAX({c}) AS DOUBLE) AS max_numeric,
               CAST(NULL AS VARCHAR) AS min_text,
               CAST(NULL AS VARCHAR) AS max_text
        FROM orders""")
    for c in _PROFILE_TXT:
        parts.append(f"""
        SELECT '{c}', COUNT(*),
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT {c}),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               MIN({c}), MAX({c})
        FROM orders""")
    for c in _PROFILE_TS:
        parts.append(f"""
        SELECT '{c}', COUNT(*),
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT {c}),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               STRFTIME(MIN({c}), '%Y-%m-%d %H:%M:%S'),
               STRFTIME(MAX({c}), '%Y-%m-%d %H:%M:%S')
        FROM orders""")
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


def _wallclock_str(col: F.Column, is_ntz: bool) -> F.Column:
    """Format a timestamp as ``yyyy-MM-dd HH:mm:ss`` of its STORED wall
    clock, independent of ``spark.sql.session.timeZone``.

    Parquet naive timestamps normally read as TIMESTAMP_NTZ, where
    ``date_format`` is already tz-free.  But a session with NTZ inference
    disabled reads them as TIMESTAMP (LTZ) and ``date_format`` would then
    render in the session zone — so for LTZ we rebuild the string from
    ``unix_micros`` (the stored instant, tz-free) with pure date/int
    arithmetic, which DuckDB's naive ``STRFTIME`` matches in any zone.
    """
    if is_ntz:
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    secs = F.floor(F.unix_micros(col) / F.lit(1_000_000))
    days = F.floor(secs / F.lit(86_400))
    rem = (secs - days * F.lit(86_400)).cast("int")
    date_part = F.date_format(
        F.date_add(F.to_date(F.lit("1970-01-01")), days.cast("int")),
        "yyyy-MM-dd",
    )

    def pad2(x: F.Column) -> F.Column:
        return F.lpad(x.cast("string"), 2, "0")

    return F.concat_ws(
        " ",
        date_part,
        F.concat_ws(
            ":",
            pad2(F.floor(rem / 3600)),
            pad2(F.floor(rem / 60) % 60),
            pad2(rem % 60),
        ),
    )


@query("profile_table_columns", _profile_oracle())
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import TimestampNTZType

    orders = load(spark, sf_dir, "orders")
    cols = [*_PROFILE_NUM, *_PROFILE_TXT, *_PROFILE_TS]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
        ]
    for c in _PROFILE_NUM:
        aggs += [
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
        ]
    for c in _PROFILE_TXT:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    for c in _PROFILE_TS:
        is_ntz = isinstance(orders.schema[c].dataType, TimestampNTZType)
        aggs += [
            _wallclock_str(F.min(c), is_ntz).alias(f"mn_{c}"),
            _wallclock_str(F.max(c), is_ntz).alias(f"mx_{c}"),
        ]
    one = orders.agg(*aggs)

    def row(c: str) -> F.Column:
        numeric = c in _PROFILE_NUM
        return F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows"),
            F.col(f"nn_{c}").alias("n_nulls"),
            F.col(f"nd_{c}").cast("long").alias("n_distinct"),
            (F.col(f"mn_{c}") if numeric else F.lit(None).cast("double")).alias(
                "min_numeric"
            ),
            (F.col(f"mx_{c}") if numeric else F.lit(None).cast("double")).alias(
                "max_numeric"
            ),
            (F.lit(None).cast("string") if numeric else F.col(f"mn_{c}")).alias(
                "min_text"
            ),
            (F.lit(None).cast("string") if numeric else F.col(f"mx_{c}")).alias(
                "max_text"
            ),
        )
    return (
        one.select(F.explode(F.array(*[row(c) for c in cols])).alias("r"))
        .select("r.*")
        .orderBy("col_name")
    )


# --------------------------------------------------------------------------
# The row-level change feed (sources/cdf.py) itself as an oracle-checked
# query, over the same deterministic MV fixture: per (commit version,
# change type) row counts and value sums. The closed form — v0 inserts
# ids 0..599, v1 inserts 600..999, v2 DV-deletes ids % 10 == 0 — is
# expressed directly over DuckDB's range(), so a feed that mis-resolved
# DV positions, replayed a file, or leaked a maintenance rewrite cannot
# hash-match.
_CDF_ORACLE = """
    WITH src AS (
      SELECT id, (id * 31) % 101 AS v,
             CASE WHEN id < 600 THEN 0 ELSE 1 END AS ins_v
      FROM range(1000) t(id)
    )
    SELECT CAST(ins_v AS BIGINT) AS commit_version,
           'insert' AS change_type,
           COUNT(*) AS n_rows, CAST(SUM(v) AS BIGINT) AS sum_v
    FROM src GROUP BY 1
    UNION ALL
    SELECT 2, 'delete', COUNT(*), CAST(SUM(v) AS BIGINT)
    FROM src WHERE id % 10 = 0
    ORDER BY commit_version, change_type
"""


@query("delta_row_changes", _CDF_ORACLE)
def delta_row_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.cdf import row_changes

    _ensure_mv_fixture(spark)
    ch = row_changes(spark, _MV_FIXTURE)
    return (
        ch.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .orderBy("commit_version", "change_type")
    )


# --------------------------------------------------------------------------
# Row tracking end-to-end as an oracle-checked query: the fixture writes
# ids 0..599 sorted into one file, enables row tracking (backfill
# assigns baseRowId 0), appends 600..999 sorted into one file (baseRowId
# 600), then DV-deletes id % 10 == 0 — by construction every surviving
# row's _row_id EQUALS its id, so the per-bucket (n_rows, sum__row_id)
# aggregate has a closed form over range(1000) that any mis-assignment
# (wrong base, wrong index origin, DV shifting survivor positions)
# breaks.
_RT_FIXTURE = "/tmp/delta_lake_health_spark_fixture/row_tracking"
_RT_MARKER = os.path.join(_RT_FIXTURE, "_RT_FIXTURE_COMPLETE")

_RT_ORACLE = """
    SELECT CAST(id % 7 AS BIGINT) AS k,
           COUNT(*) AS n_rows,
           CAST(SUM(id) AS BIGINT) AS sum_row_id
    FROM range(1000) t(id)
    WHERE id % 10 <> 0
    GROUP BY 1 ORDER BY 1
"""


def _ensure_rt_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:

        def rows(lo: int, hi: int):
            return (
                spark.range(lo, hi)
                .selectExpr("id", "CAST(id % 7 AS BIGINT) AS k")
                .orderBy("id")
                .coalesce(1)
            )

        delta_writer.write(spark, rows(0, 600), _RT_FIXTURE)       # v0
        delta_writer.enable_row_tracking(spark, _RT_FIXTURE)       # backfill
        delta_writer.write(spark, rows(600, 1000), _RT_FIXTURE)    # append
        delta_writer.delete_with_dv(spark, _RT_FIXTURE, "id % 10 = 0")

    _build_delta_fixture(_RT_MARKER, build, clean=[_RT_FIXTURE])


@query("delta_row_ids", _RT_ORACLE)
def delta_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket census over ``DeltaLog.row_ids()`` (sf_dir unused —
    the fixture is scale-independent)."""
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_rt_fixture(spark)
    return (
        DeltaLog(spark, _RT_FIXTURE)
        .row_ids()
        .groupBy(F.col("k"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("_row_id").cast("long").alias("sum_row_id"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Identity columns end-to-end as an oracle-checked query: the fixture
# seeds 100 rows with EXPLICIT uids 0,2,..,198, declares the column
# IDENTITY (the declaration syncs the high-water mark to 198), then two
# appends omit the column — the writer's distributed per-partition-block
# assignment must produce EXACTLY the contiguous series 199..498 (any
# wrong base, collision, or gap breaks the per-bucket count/sum).
# sf_dir unused — the fixture is scale-independent.
_ID_FIXTURE = "/tmp/delta_lake_health_spark_fixture/identity"
_ID_MARKER = os.path.join(_ID_FIXTURE, "_ID_FIXTURE_COMPLETE")

_ID_ORACLE = """
    WITH u AS (
        SELECT id * 2 AS uid FROM range(100) t(id)
        UNION ALL
        SELECT 199 + id FROM range(300) t(id)
    )
    SELECT CAST(uid % 5 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(uid) AS BIGINT) AS sum_uid
    FROM u GROUP BY 1 ORDER BY 1
"""


def _ensure_identity_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        seed = spark.range(0, 100).selectExpr(
            "CAST(id AS STRING) AS name", "CAST(id * 2 AS LONG) AS uid"
        )
        delta_writer.write(spark, seed, _ID_FIXTURE)                      # v0
        delta_writer.set_identity_column(spark, _ID_FIXTURE, "uid")      # hwm=198

        def names(lo: int, hi: int):
            return spark.range(lo, hi).selectExpr("CAST(id AS STRING) AS name")

        delta_writer.write(spark, names(100, 350).repartition(4), _ID_FIXTURE)
        delta_writer.write(spark, names(350, 400).repartition(2), _ID_FIXTURE)

    _build_delta_fixture(_ID_MARKER, build, clean=[_ID_FIXTURE])


@query("delta_identity_series", _ID_ORACLE)
def delta_identity_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket census over the identity column of the fixture table
    (explicit seed + two generated appends)."""
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_identity_fixture(spark)
    return (
        DeltaLog(spark, _ID_FIXTURE)
        .snapshot()
        .groupBy((F.col("uid") % 5).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("uid").cast("long").alias("sum_uid"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Referential-integrity audit (the cross-table data-quality check a
# health toolkit pairs with column profiling): for each FK edge of the
# schema, child rows whose key resolves to no parent. Each edge is one
# LEFT ANTI join — dimension parents broadcast, the lineitem→orders
# edge shuffles once on the uniform orderkey — then a 4-row union.
# Dangle counts are 0 on healthy data; the query's value is that a
# broken pipeline (partial parent load, late dimension) flips them
# non-zero, and the oracle proves BOTH engines agree on exactly which
# side dangles.
@query(
    "referential_integrity_audit",
    """
    SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
           (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
             AS n_dangling
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    ORDER BY fk_edge
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    def edge(name, child, child_key, parent, parent_key, broadcast_parent):
        parent = parent.select(parent_key)
        if broadcast_parent:
            parent = F.broadcast(parent)
        dangling = child.join(
            parent, child[child_key] == parent[parent_key], "left_anti"
        )
        return child.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_child_rows"),
        ).crossJoin(
            F.broadcast(dangling.agg(F.count(F.lit(1)).alias("n_dangling")))
        )

    parts = [
        edge(
            "lineitem.l_orderkey -> orders",
            li.select("l_orderkey"), "l_orderkey",
            orders.select("o_orderkey"), "o_orderkey",
            broadcast_parent=False,  # fact-fact: shuffle on the key
        ),
        edge(
            "lineitem.l_partkey -> part",
            li.select("l_partkey"), "l_partkey",
            load(spark, sf_dir, "part"), "p_partkey",
            broadcast_parent=True,
        ),
        edge(
            "lineitem.l_suppkey -> supplier",
            li.select("l_suppkey"), "l_suppkey",
            load(spark, sf_dir, "supplier"), "s_suppkey",
            broadcast_parent=True,
        ),
        edge(
            "orders.o_custkey -> customer",
            orders.select("o_custkey"), "o_custkey",
            load(spark, sf_dir, "customer"), "c_custkey",
            broadcast_parent=True,
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fk_edge")


# --------------------------------------------------------------------------
# D61 end-to-end — CONVERT TO DELTA, oracle-checked (round 8, VERDICT r7
# task #7): the query converts a plain hive-partitioned parquet directory
# in place (metadata-only v0 commit referencing the existing files with
# FOOTER-derived stats) and emits one row per partition combining
# log-side facts (file count, stats numRecords, stats min/max of `val`)
# with data-side facts (row count and sum(idx) from the reconstructed
# snapshot). The DuckDB oracle derives every column from the raw parquet
# glob alone — agreement proves (a) the v0 log references exactly the
# files on disk, (b) hive `day=` inference matches DuckDB's, (c) footer
# numRecords and min/max equal the actual data, and (d) the snapshot
# injects partition values correctly. Reference parity: the conversion
# path delta-rs exposes as `convert_to_deltalake`.
from delta_lake_health_spark.sources.fixture import (  # noqa: E402
    CONVERT_SRC_PATH,
    ensure_convert_fixture,
)

try:  # import-time build so the oracle side never races the Spark side
    ensure_convert_fixture()
except Exception:  # pragma: no cover
    pass

_CONVERT_ORACLE = f"""
    WITH src AS (
      SELECT day, idx, val,
             replace(filename, '{CONVERT_SRC_PATH}/', '') AS rel
      FROM read_parquet('{CONVERT_SRC_PATH}/*/*.parquet',
                        hive_partitioning=true, filename=true)
    )
    SELECT day,
           CAST(COUNT(DISTINCT rel) AS BIGINT) AS n_files,
           COUNT(*) AS n_rows,
           COUNT(*) AS n_records_stats,
           CAST(SUM(idx) AS BIGINT) AS sum_idx,
           ROUND(MIN(val), 6) AS min_val,
           ROUND(MAX(val), 6) AS max_val
    FROM src GROUP BY day ORDER BY day
"""


@query("delta_convert_snapshot", _CONVERT_ORACLE)
def delta_convert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    path = ensure_convert_fixture()
    if not os.path.isdir(os.path.join(path, "_delta_log")):
        delta_writer.convert_to_delta(spark, path)
    log = DeltaLog(spark, path)
    # log-side: |files| add actions (metadata-sized), stats from footers
    stats_rows = []
    for a in log.live_add_actions():
        st = _json.loads(a["stats"])
        stats_rows.append((
            a["partitionValues"]["day"],
            int(st["numRecords"]),
            float(st["minValues"]["val"]),
            float(st["maxValues"]["val"]),
        ))
    log_agg = (
        spark.createDataFrame(
            stats_rows, "day string, nrec long, mn double, mx double"
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("nrec").cast("long").alias("n_records_stats"),
            F.round(F.min("mn"), 6).alias("min_val"),
            F.round(F.max("mx"), 6).alias("max_val"),
        )
    )
    # data-side: the reconstructed snapshot (partition values injected
    # from the log, files read where they were converted)
    data_agg = (
        log.snapshot()
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("idx").cast("long").alias("sum_idx"),
        )
    )
    return (
        data_agg.join(F.broadcast(log_agg), "day")
        .select(
            "day", "n_files", "n_rows", "n_records_stats",
            "sum_idx", "min_val", "max_val",
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# D66 — REORG TABLE ... APPLY (PURGE), oracle-checked end-to-end (round 8).
# The fixture walks the full lifecycle the operator exists for: v0 writes
# range(1200) hive-partitioned by day with a doomed `junk` column, v1
# DROP COLUMN junk (metadata-only, column mapping), v2 soft-deletes
# id % 9 = 0 via a deletion vector, then REORG PURGE rewrites exactly the
# affected files. The emitted row combines the post-reorg snapshot
# aggregate (values must equal the closed form over DuckDB's range()) with
# two structural facts asserted as columns: no live file retains a DV
# position, and no live file's parquet FOOTER still carries the dropped
# column. Reference parity: needs_vacuum/needs_optimize cleanup pressure
# (delta_python_analyzer.py:232-243) made actionable, Delta REORG
# semantics (delta-io/delta PR #1732).
_REORG_FIXTURE = "/tmp/delta_lake_health_spark_fixture/reorg_table"
_REORG_MARKER = os.path.join(_REORG_FIXTURE, "_REORG_FIXTURE_COMPLETE")

_REORG_ORACLE = """
    SELECT 'd' || CAST(id % 4 AS VARCHAR) AS day,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 2) AS BIGINT) AS sum_val,
           CAST(0 AS BIGINT) AS n_dv_files,
           CAST(0 AS BIGINT) AS n_stale_files
    FROM range(1200) t(id)
    WHERE id % 9 <> 0
    GROUP BY 1 ORDER BY 1
"""


def _ensure_reorg_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        rows = spark.range(0, 1200).selectExpr(
            "id",
            "CONCAT('d', CAST(id % 4 AS STRING)) AS day",
            "CAST(id * 2 AS BIGINT) AS val",
            "CAST(id * 7 AS BIGINT) AS junk",
        )
        delta_writer.write(
            spark, rows.repartition(4), _REORG_FIXTURE, partition_by=["day"]
        )                                                              # v0
        delta_writer.drop_column(spark, _REORG_FIXTURE, "junk")        # v1
        delta_writer.delete_with_dv(spark, _REORG_FIXTURE, "id % 9 = 0")  # v2
        maintenance.reorg_purge(spark, _REORG_FIXTURE)                 # v3+

    _build_delta_fixture(_REORG_MARKER, build, clean=[_REORG_FIXTURE])


@query("delta_reorg_purge", _REORG_ORACLE)
def delta_reorg_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-REORG snapshot aggregate + structural purge proof (sf_dir
    unused — the fixture is scale-independent)."""
    import pyarrow.parquet as pq

    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_reorg_fixture(spark)
    log = DeltaLog(spark, _REORG_FIXTURE)

    # structural facts, both |live files|-bounded metadata probes
    live = [a["path"] for a in log.live_add_actions()]
    dv = log.deletion_vectors()
    n_dv_files = 0
    if dv is not None:
        live_df = spark.createDataFrame(
            [(p,) for p in live], "rel_path string"
        )
        n_dv_files = (
            dv.join(F.broadcast(live_df), "rel_path", "left_semi")
            .select("rel_path").distinct().count()
        )
    n_stale = sum(
        1
        for p in live
        if "junk" in set(
            pq.read_schema(os.path.join(_REORG_FIXTURE, p)).names
        )
    )

    return (
        log.snapshot()
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        .withColumn("n_dv_files", F.lit(n_dv_files).cast("long"))
        .withColumn("n_stale_files", F.lit(n_stale).cast("long"))
        .select("day", "n_rows", "sum_val", "n_dv_files", "n_stale_files")
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# D67 — COPY INTO, oracle-checked: a fresh Delta table seeded with
# range(1000, 1100) ingests a 3-file external parquet directory
# (range(300) split 100/100/100) via copy_into, TWICE — the second run
# must load nothing (the loaded-set domainMetadata makes replay a
# no-op). The emitted per-bucket aggregate must equal the closed form
# over both ranges, and the second run's load count (0) and the final
# row count are asserted as columns. Reference parity: delta-rs
# write_deltalake ingest + Databricks COPY INTO's exactly-once contract.
_COPY_FIXTURE = "/tmp/delta_lake_health_spark_fixture/copy_into_table"
_COPY_SRC = "/tmp/delta_lake_health_spark_fixture/copy_into_src"
_COPY_MARKER = os.path.join(_COPY_FIXTURE, "_COPY_FIXTURE_COMPLETE")

_COPY_ORACLE = """
    WITH rows AS (
      SELECT id FROM range(300) t(id)
      UNION ALL
      SELECT id FROM range(1000, 1100) t(id)
    )
    SELECT CAST(id % 5 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 3) AS BIGINT) AS sum_v,
           CAST(0 AS BIGINT) AS n_second_run_loads
    FROM rows GROUP BY 1 ORDER BY 1
"""


def _ensure_copy_fixture(spark: SparkSession) -> int:
    """Build the seed table + external source dir and run copy_into
    twice; returns the second run's numLoadedFiles (always 0)."""

    import pyarrow as pa
    import pyarrow.parquet as pq

    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        os.makedirs(_COPY_SRC)
        for k in range(3):
            ids = list(range(k * 100, (k + 1) * 100))
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array(ids, pa.int64()),
                        "v": pa.array([i * 3 for i in ids], pa.int64()),
                    }
                ),
                os.path.join(_COPY_SRC, f"part-{k}.parquet"),
            )
        seed = spark.range(1000, 1100).selectExpr(
            "id", "CAST(id * 3 AS BIGINT) AS v"
        )
        delta_writer.write(spark, seed, _COPY_FIXTURE)
        m1 = delta_writer.copy_into(spark, _COPY_FIXTURE, _COPY_SRC)
        assert m1["numLoadedFiles"] == 3, m1
        m2 = delta_writer.copy_into(spark, _COPY_FIXTURE, _COPY_SRC)
        # idempotence IS the fixture contract — fail loudly at build
        # time, not as a downstream oracle mismatch
        assert m2["numLoadedFiles"] == 0, m2

    _build_delta_fixture(_COPY_MARKER, build, clean=[_COPY_FIXTURE, _COPY_SRC])
    return 0


@query("delta_copy_into_snapshot", _COPY_ORACLE)
def delta_copy_into_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    second_loads = _ensure_copy_fixture(spark)
    return (
        DeltaLog(spark, _COPY_FIXTURE)
        .snapshot()
        .groupBy((F.col("id") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .withColumn(
            "n_second_run_loads", F.lit(second_loads).cast("long")
        )
        .select("bucket", "n_rows", "sum_v", "n_second_run_loads")
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# D68 — per-file Bloom file-skipping index, oracle-checked through the
# point-lookup path: a 12-file fixture (range(2400)) gets a bloom_<col>
# sidecar, one row is DV-deleted AFTER the build (stale bitmap, scan
# must still hide it), and the query probes a sweep of present, deleted,
# and absent keys THROUGH the index — emitting per-probe row counts and
# the sum of found ids, all closed-form. Pruning/no-false-negative
# structure is pytest-asserted (tests/test_bloom_index.py); this row
# proves the index+scan+DV composition against an independent engine.
_BLOOMIX_FIXTURE = "/tmp/delta_lake_health_spark_fixture/bloom_index_table"
_BLOOMIX_MARKER = os.path.join(_BLOOMIX_FIXTURE, "_BLOOMIX_FIXTURE_COMPLETE")
_BLOOMIX_PROBES = (0, 137, 555, 1200, 2399,        # present
                   777,                             # DV-deleted after build
                   9_000_000, 9_000_001)            # absent

_BLOOMIX_ORACLE = """
    WITH probes(probe) AS (
      VALUES (0), (137), (555), (1200), (2399), (777),
             (9000000), (9000001)
    )
    SELECT CAST(probe AS BIGINT) AS probe,
           CAST(CASE WHEN probe = 777 THEN 0
                     WHEN probe < 2400 THEN 1 ELSE 0 END AS BIGINT)
             AS n_found,
           CAST(CASE WHEN probe = 777 THEN 0
                     WHEN probe < 2400 THEN probe * 3 ELSE 0 END AS BIGINT)
             AS sum_v
    FROM probes ORDER BY probe
"""


def _ensure_bloomix_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.operators import bloom_index
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        df = spark.range(0, 2400).selectExpr("id", "CAST(id * 3 AS BIGINT) AS v")
        delta_writer.write(spark, df.repartition(12), _BLOOMIX_FIXTURE)
        bloom_index.build_bloom_index(spark, _BLOOMIX_FIXTURE, "id")
        delta_writer.delete_with_dv(spark, _BLOOMIX_FIXTURE, "id = 777")

    _build_delta_fixture(_BLOOMIX_MARKER, build, clean=[_BLOOMIX_FIXTURE])


@query("delta_bloom_point_lookup", _BLOOMIX_ORACLE)
def delta_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from delta_lake_health_spark.operators import bloom_index

    _ensure_bloomix_fixture(spark)
    frames = []
    for p in _BLOOMIX_PROBES:
        hit = bloom_index.bloom_point_lookup(
            spark, _BLOOMIX_FIXTURE, "id", p
        )
        frames.append(
            hit.agg(
                F.count(F.lit(1)).alias("n_found"),
                F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("sum_v"),
            ).select(F.lit(p).cast("long").alias("probe"), "n_found", "sum_v")
        )
    return reduce(lambda a, b: a.unionByName(b), frames).orderBy("probe")


# --------------------------------------------------------------------------
# D72 — APPLY CHANGES CDC replication, oracle-checked: a source table
# (range(200)) is seeded into a target via apply_changes, then mutated
# with the full operation mix — UPDATE (ids ending in 3 get v + 1000),
# DV-DELETE (ids 150-159), MERGE upsert (ids 180-219 to v = id * 7,
# half updates / half inserts) — and synced again; a THIRD sync with no
# new source commits must apply nothing (idempotence, asserted as
# columns). The target's per-group aggregate must equal the closed form
# of the mutation sequence, computed independently by DuckDB. Proves
# convergence of the net-change fold (last-writer-wins across commits,
# insert-outranks-delete within one) against an independent engine;
# per-cycle snapshot equality is pytest-driven (tests/test_cdc_sync.py).
# Reference parity: Databricks APPLY CHANGES INTO / delta-rs CDF
# consumers (the reference's delta-rs backend exposes the CDF read).
_CDCSYNC_SRC = "/tmp/delta_lake_health_spark_fixture/cdc_sync_src"
_CDCSYNC_DST = "/tmp/delta_lake_health_spark_fixture/cdc_sync_dst"
_CDCSYNC_MARKER = os.path.join(_CDCSYNC_DST, "_CDCSYNC_FIXTURE_COMPLETE")

_CDCSYNC_ORACLE = """
    WITH final AS (
      SELECT id,
             CASE WHEN id % 10 = 3 THEN id * 2 + 1000
                  ELSE id * 2 END AS v
      FROM range(200) t(id)
      WHERE id < 180 AND id NOT BETWEEN 150 AND 159
      UNION ALL
      SELECT id, id * 7 AS v FROM range(180, 220) t(id)
    )
    SELECT CAST(id % 4 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(SUM(id) AS BIGINT) AS sum_id,
           CAST(0 AS BIGINT) AS n_resync_upserts,
           CAST(0 AS BIGINT) AS n_resync_deletes
    FROM final GROUP BY 1 ORDER BY 1
"""


def _ensure_cdcsync_fixture(spark: SparkSession) -> tuple[int, int]:
    """Seed, mutate, sync, then re-sync; returns the RE-sync's
    (numUpserts, numDeletes) — both must be 0 (idempotence)."""

    from delta_lake_health_spark.operators.sync import apply_changes
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        delta_writer.write(
            spark,
            spark.range(0, 200).selectExpr(
                "id", "CAST(id * 2 AS BIGINT) AS v"
            ),
            _CDCSYNC_SRC,
        )
        m0 = apply_changes(spark, _CDCSYNC_SRC, _CDCSYNC_DST, ["id"])
        assert m0["seeded"] and m0["numUpserts"] == 200, m0
        delta_writer.update(
            spark, _CDCSYNC_SRC, "id % 10 = 3", {"v": "v + 1000"}
        )
        delta_writer.delete_with_dv(
            spark, _CDCSYNC_SRC, "id BETWEEN 150 AND 159"
        )
        delta_writer.merge(
            spark,
            _CDCSYNC_SRC,
            spark.range(180, 220).selectExpr(
                "id", "CAST(id * 7 AS BIGINT) AS v"
            ),
            ["id"],
        )
        m1 = apply_changes(spark, _CDCSYNC_SRC, _CDCSYNC_DST, ["id"])
        assert not m1["seeded"] and m1["numDeletes"] == 10, m1
        m2 = apply_changes(spark, _CDCSYNC_SRC, _CDCSYNC_DST, ["id"])
        # re-sync idempotence IS the fixture contract — fail loudly at
        # build time, not as a downstream oracle mismatch
        assert m2["numUpserts"] == 0 and m2["numDeletes"] == 0, m2

    _build_delta_fixture(_CDCSYNC_MARKER, build, clean=[_CDCSYNC_SRC, _CDCSYNC_DST])
    return (0, 0)


@query("delta_cdc_sync", _CDCSYNC_ORACLE)
def delta_cdc_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    resync_up, resync_del = _ensure_cdcsync_fixture(spark)
    return (
        DeltaLog(spark, _CDCSYNC_DST)
        .snapshot()
        .groupBy((F.col("id") % 4).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
            F.sum("id").cast("long").alias("sum_id"),
        )
        .withColumn("n_resync_upserts", F.lit(resync_up).cast("long"))
        .withColumn("n_resync_deletes", F.lit(resync_del).cast("long"))
        .select(
            "grp", "n_rows", "sum_v", "sum_id",
            "n_resync_upserts", "n_resync_deletes",
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# D36 — RESTORE, oracle-checked: write range(100) (v0), append
# range(100,150) (v1), DELETE every id % 10 = 0 (v2), then RESTORE to
# v0 — the final snapshot must equal the ORIGINAL closed form exactly
# (the restore commit re-adds v0's files and removes the later ones),
# while pre-restore state (135 rows at v2) stays reachable via time
# travel and is emitted as a column. Proves the restore file-set
# arithmetic against an independent engine; crash/interleaving coverage
# stays with the fuzz battery.
_RESTORE_FIXTURE = "/tmp/delta_lake_health_spark_fixture/restore_table"
_RESTORE_MARKER = os.path.join(_RESTORE_FIXTURE, "_RESTORE_FIXTURE_COMPLETE")

_RESTORE_ORACLE = """
    SELECT CAST(id % 3 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 2) AS BIGINT) AS sum_v,
           CAST(135 AS BIGINT) AS n_pre_restore
    FROM range(100) t(id) GROUP BY 1 ORDER BY 1
"""


def _ensure_restore_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        delta_writer.write(
            spark,
            spark.range(0, 100).selectExpr("id", "CAST(id * 2 AS BIGINT) AS v"),
            _RESTORE_FIXTURE,
        )
        delta_writer.write(
            spark,
            spark.range(100, 150).selectExpr("id", "CAST(id * 2 AS BIGINT) AS v"),
            _RESTORE_FIXTURE,
            mode="append",
        )
        delta_writer.delete(spark, _RESTORE_FIXTURE, "id % 10 = 0")
        maintenance.restore(spark, _RESTORE_FIXTURE, 0)

    _build_delta_fixture(_RESTORE_MARKER, build, clean=[_RESTORE_FIXTURE])


@query("delta_restore_snapshot", _RESTORE_ORACLE)
def delta_restore_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_restore_fixture(spark)
    log = DeltaLog(spark, _RESTORE_FIXTURE)
    n_pre = log.snapshot(as_of=2).count()
    return (
        log.snapshot()
        .groupBy((F.col("id") % 3).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .withColumn("n_pre_restore", F.lit(n_pre).cast("long"))
        .select("grp", "n_rows", "sum_v", "n_pre_restore")
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# D38/D60 — CLONE isolation, oracle-checked: a source table (range(80))
# is SHALLOW-cloned (copy-on-write: the clone's v0 references the
# source's files absolutely), the CLONE then appends range(80,100) —
# the clone must show the union closed form while the SOURCE stays at
# its original 80 rows (emitted as a column). Proves the re-rooted
# reads and write isolation against an independent engine; DEEP clone /
# source-deletion survival stays pytest-covered.
_CLONE_SRC = "/tmp/delta_lake_health_spark_fixture/clone_src"
_CLONE_DST = "/tmp/delta_lake_health_spark_fixture/clone_dst"
_CLONE_MARKER = os.path.join(_CLONE_DST, "_CLONE_FIXTURE_COMPLETE")

_CLONE_ORACLE = """
    SELECT CAST(id % 4 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 3) AS BIGINT) AS sum_v,
           CAST(80 AS BIGINT) AS n_source_rows
    FROM range(100) t(id) GROUP BY 1 ORDER BY 1
"""


def _ensure_clone_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        delta_writer.write(
            spark,
            spark.range(0, 80).selectExpr("id", "CAST(id * 3 AS BIGINT) AS v"),
            _CLONE_SRC,
        )
        delta_writer.clone_shallow(spark, _CLONE_SRC, _CLONE_DST)
        delta_writer.write(
            spark,
            spark.range(80, 100).selectExpr("id", "CAST(id * 3 AS BIGINT) AS v"),
            _CLONE_DST,
            mode="append",
        )

    _build_delta_fixture(_CLONE_MARKER, build, clean=[_CLONE_SRC, _CLONE_DST])


@query("delta_clone_snapshot", _CLONE_ORACLE)
def delta_clone_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_clone_fixture(spark)
    n_src = DeltaLog(spark, _CLONE_SRC).snapshot().count()
    return (
        DeltaLog(spark, _CLONE_DST)
        .snapshot()
        .groupBy((F.col("id") % 4).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .withColumn("n_source_rows", F.lit(n_src).cast("long"))
        .select("grp", "n_rows", "sum_v", "n_source_rows")
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# D28/D52 — schema evolution + type widening, oracle-checked: a table
# born (id, v INT) evolves twice — a merge_schema append ADDS a column
# (extra = id*5, so pre-evolution rows read back NULL for it) and a
# later append arrives with v as BIGINT (the int->long widening chain;
# old files upcast at read). The final snapshot aggregate — including
# the null count evolution implies — must equal the closed form DuckDB
# computes from the same arithmetic. Reconstruction-level coverage
# (metaData re-emission, widening refusals) stays with the pytest/fuzz
# batteries; this row proves the data a reader actually gets.
_EVOL_FIXTURE = "/tmp/delta_lake_health_spark_fixture/evolution_table"
_EVOL_MARKER = os.path.join(_EVOL_FIXTURE, "_EVOL_FIXTURE_COMPLETE")

_EVOL_ORACLE = """
    WITH rows AS (
      SELECT id, id * 2 AS v, NULL AS extra FROM range(60) t(id)
      UNION ALL
      SELECT id, id * 2 AS v, id * 5 AS extra FROM range(60, 100) t(id)
      UNION ALL
      SELECT id, id * 2 AS v, id * 5 AS extra FROM range(100, 130) t(id)
    )
    SELECT CAST(id % 3 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_v,
           CAST(SUM(extra) AS BIGINT) AS sum_extra,
           CAST(SUM(CASE WHEN extra IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_extra
    FROM rows GROUP BY 1 ORDER BY 1
"""


def _ensure_evolution_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        delta_writer.write(
            spark,
            spark.range(0, 60).selectExpr("id", "CAST(id * 2 AS INT) AS v"),
            _EVOL_FIXTURE,
        )
        delta_writer.write(  # evolution: adds `extra`
            spark,
            spark.range(60, 100).selectExpr(
                "id", "CAST(id * 2 AS INT) AS v", "CAST(id * 5 AS BIGINT) AS extra"
            ),
            _EVOL_FIXTURE,
            mode="append",
            merge_schema=True,
        )
        delta_writer.write(  # widening: v INT -> BIGINT
            spark,
            spark.range(100, 130).selectExpr(
                "id", "CAST(id * 2 AS BIGINT) AS v",
                "CAST(id * 5 AS BIGINT) AS extra",
            ),
            _EVOL_FIXTURE,
            mode="append",
            merge_schema=True,
        )

    _build_delta_fixture(_EVOL_MARKER, build, clean=[_EVOL_FIXTURE])


@query("delta_schema_evolution", _EVOL_ORACLE)
def delta_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_evolution_fixture(spark)
    return (
        DeltaLog(spark, _EVOL_FIXTURE)
        .snapshot()
        .groupBy((F.col("id") % 3).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
            F.sum("extra").cast("long").alias("sum_extra"),
            F.sum(F.col("extra").isNull().cast("long")).alias("n_null_extra"),
        )
        .select("grp", "n_rows", "sum_v", "sum_extra", "n_null_extra")
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# D40 — generated columns, oracle-checked: a table declares
# g = id * 7 + 1 as a GENERATED column; two later appends OMIT it and
# the writer must compute it. The snapshot aggregate over g equals the
# closed form of the generation expression — proving the fill path
# produced exactly the declared values (the refusal paths — explicit
# disagreeing values — stay pytest-covered).
_GEN_FIXTURE = "/tmp/delta_lake_health_spark_fixture/generated_table"
_GEN_MARKER = os.path.join(_GEN_FIXTURE, "_GEN_FIXTURE_COMPLETE")

_GEN_ORACLE = """
    SELECT CAST(id % 4 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 7 + 1) AS BIGINT) AS sum_g
    FROM range(120) t(id) GROUP BY 1 ORDER BY 1
"""


def _ensure_generated_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        delta_writer.write(
            spark,
            spark.range(0, 40).selectExpr("id", "CAST(id * 7 + 1 AS BIGINT) AS g"),
            _GEN_FIXTURE,
        )
        delta_writer.set_generated_column(spark, _GEN_FIXTURE, "g", "id * 7 + 1")
        for lo, hi in ((40, 90), (90, 120)):
            delta_writer.write(  # batches OMIT g: the writer must fill it
                spark,
                spark.range(lo, hi).selectExpr("id"),
                _GEN_FIXTURE,
                mode="append",
            )

    _build_delta_fixture(_GEN_MARKER, build, clean=[_GEN_FIXTURE])


@query("delta_generated_columns", _GEN_ORACLE)
def delta_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_generated_fixture(spark)
    return (
        DeltaLog(spark, _GEN_FIXTURE)
        .snapshot()
        .groupBy((F.col("id") % 4).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("g").cast("long").alias("sum_g"),
        )
        .select("grp", "n_rows", "sum_g")
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# D22 — three-clause MERGE, oracle-checked: target = range(100)
# (v = id*2), source = range(60, 130) (v = id*9). MERGE on id with
# WHEN MATCHED UPDATE (ids 60-99 move to 9x), WHEN NOT MATCHED INSERT
# (ids 100-129 arrive at 9x), and WHEN NOT MATCHED BY SOURCE DELETE
# with condition id < 20 (ids 0-19 leave; 20-59 survive at 2x). The
# final snapshot aggregate equals DuckDB's closed form of the same
# clause semantics — the single most-used writer op proven end-to-end
# against an independent engine (conflict/replay paths stay with the
# pytest + fuzz batteries).
_MERGE_FIXTURE = "/tmp/delta_lake_health_spark_fixture/merge_table"
_MERGE_MARKER = os.path.join(_MERGE_FIXTURE, "_MERGE_FIXTURE_COMPLETE")

_MERGE_ORACLE = """
    WITH rows AS (
      SELECT id, id * 2 AS v FROM range(20, 60) t(id)
      UNION ALL
      SELECT id, id * 9 AS v FROM range(60, 130) t(id)
    )
    SELECT CAST(id % 5 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM rows GROUP BY 1 ORDER BY 1
"""


def _ensure_merge_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        delta_writer.write(
            spark,
            spark.range(0, 100).selectExpr("id", "CAST(id * 2 AS BIGINT) AS v"),
            _MERGE_FIXTURE,
        )
        delta_writer.merge(
            spark,
            _MERGE_FIXTURE,
            spark.range(60, 130).selectExpr("id", "CAST(id * 9 AS BIGINT) AS v"),
            ["id"],
            not_matched_by_source_delete="id < 20",
        )

    _build_delta_fixture(_MERGE_MARKER, build, clean=[_MERGE_FIXTURE])


@query("delta_merge_snapshot", _MERGE_ORACLE)
def delta_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_merge_fixture(spark)
    return (
        DeltaLog(spark, _MERGE_FIXTURE)
        .snapshot()
        .groupBy((F.col("id") % 5).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .select("grp", "n_rows", "sum_v")
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# D16 — VACUUM, oracle-checked through the reader contract: a delete
# rewrites files (tombstoning the originals), an orphan parquet is
# planted out-of-band, then VACUUM at retention 0 collects both. The
# snapshot aggregate must be UNCHANGED by the physical deletion (vacuum
# only ever touches unreferenced files) and the post-vacuum orphan
# count — recomputed by the health analyzer's folder-vs-log diff — must
# be zero; both facts are columns the closed-form DuckDB oracle pins.
_VACUUM_FIXTURE = "/tmp/delta_lake_health_spark_fixture/vacuum_table"
_VACUUM_MARKER = os.path.join(_VACUUM_FIXTURE, "_VACUUM_FIXTURE_COMPLETE")

_VACUUM_ORACLE = """
    SELECT CAST(id % 3 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 4) AS BIGINT) AS sum_v,
           CAST(0 AS BIGINT) AS n_orphans_after
    FROM range(100) t(id) WHERE id >= 30
    GROUP BY 1 ORDER BY 1
"""


def _ensure_vacuum_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        delta_writer.write(
            spark,
            spark.range(0, 100).selectExpr("id", "CAST(id * 4 AS BIGINT) AS v"),
            _VACUUM_FIXTURE,
            partition_by=None,
        )
        delta_writer.delete(spark, _VACUUM_FIXTURE, "id < 30")
        # plant a true orphan (a crashed writer's debris)
        spark.range(0, 5).selectExpr("id", "CAST(0 AS BIGINT) AS v").coalesce(
            1
        ).write.mode("append").parquet(_VACUUM_FIXTURE)
        maintenance.vacuum(spark, _VACUUM_FIXTURE, retention_hours=0.0)

    _build_delta_fixture(_VACUUM_MARKER, build, clean=[_VACUUM_FIXTURE])


@query("delta_vacuum_snapshot", _VACUUM_ORACLE)
def delta_vacuum_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.operators.health import HealthAnalyzer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_vacuum_fixture(spark)
    n_orphans = (
        HealthAnalyzer(spark)
        .analyze_table(_VACUUM_FIXTURE)
        .orphan_files_count
    )
    return (
        DeltaLog(spark, _VACUUM_FIXTURE)
        .snapshot()
        .groupBy((F.col("id") % 3).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
        )
        .withColumn("n_orphans_after", F.lit(n_orphans).cast("long"))
        .select("grp", "n_rows", "sum_v", "n_orphans_after")
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# D48 — copy-on-write UPDATE, oracle-checked (r10): a grp-partitioned
# range(1000) table takes two UPDATEs (grp=2: val+=1000; grp=3 AND
# id>=500: val=-id). The snapshot aggregate must equal the closed form,
# and the structural column proves the COPY-ON-WRITE contract: every
# file removed by the two UPDATE commits lives under the touched
# partition (grp=2 / grp=3) — untouched partitions were never rewritten.
_UPDATE_FIXTURE = "/tmp/delta_lake_health_spark_fixture/update_table"
_UPDATE_MARKER = os.path.join(_UPDATE_FIXTURE, "_UPDATE_FIXTURE_COMPLETE")

_UPDATE_ORACLE = """
    SELECT CAST(id % 4 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN id % 4 = 2 THEN id * 2 + 1000
                         WHEN id % 4 = 3 AND id >= 500 THEN -id
                         ELSE id * 2 END) AS BIGINT) AS sum_v,
           CAST(0 AS BIGINT) AS n_foreign_rewrites,
           CAST(2 AS BIGINT) AS last_version
    FROM range(1000) t(id) GROUP BY 1 ORDER BY 1
"""


def _ensure_update_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        df = spark.range(0, 1000).select(
            "id", (F.col("id") % 4).alias("grp"), (F.col("id") * 2).alias("val")
        )
        delta_writer.write(spark, df, _UPDATE_FIXTURE, partition_by=["grp"])
        delta_writer.update(spark, _UPDATE_FIXTURE, "grp = 2",
                            {"val": "val + 1000"})
        delta_writer.update(spark, _UPDATE_FIXTURE, "grp = 3 AND id >= 500",
                            {"val": "-id"})

    _build_delta_fixture(_UPDATE_MARKER, build, clean=[_UPDATE_FIXTURE])


@query("delta_update_snapshot", _UPDATE_ORACLE)
def delta_update_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-UPDATE snapshot aggregate + copy-on-write proof (sf_dir
    unused — the fixture is scale-independent)."""
    from delta_lake_health_spark.sources import log_replay
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_update_fixture(spark)
    log = DeltaLog(spark, _UPDATE_FIXTURE)
    last = log.version()
    foreign = 0
    for v, part in ((1, "grp=2/"), (2, "grp=3/")):
        for a in log_replay.read_commit(_UPDATE_FIXTURE, v):
            if "remove" in a and not a["remove"]["path"].startswith(part):
                foreign += 1
    return (
        log.snapshot()
        .groupBy(F.col("grp").cast("long").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("long").alias("sum_v"),
        )
        .withColumn("n_foreign_rewrites", F.lit(foreign).cast("long"))
        .withColumn("last_version", F.lit(last).cast("long"))
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# D15 + D17 — OPTIMIZE compaction then Z-ORDER, oracle-checked (r10):
# 32 small files (two 16-partition appends of range(4000)) bin-pack to
# one file, then the z-order rewrite re-clusters it — and the DATA must
# be bit-preserved through both dataChange=false rewrites: the per-bucket
# aggregate equals the closed form, the live-file count and final
# version land as structural columns.
_OPT_FIXTURE = "/tmp/delta_lake_health_spark_fixture/optimize_table"
_OPT_MARKER = os.path.join(_OPT_FIXTURE, "_OPT_FIXTURE_COMPLETE")

_OPT_ORACLE = """
    SELECT CAST(id % 8 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 3) AS BIGINT) AS sum_v,
           CAST(1 AS BIGINT) AS n_live_files,
           CAST(3 AS BIGINT) AS last_version
    FROM range(4000) t(id) GROUP BY 1 ORDER BY 1
"""


def _ensure_optimize_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:

        def mk(lo: int, hi: int) -> DataFrame:
            return spark.range(lo, hi).select(
                "id",
                (F.col("id") % 32).alias("a"),
                ((F.col("id") / 32).cast("long") % 32).alias("b"),
                (F.col("id") * 3).alias("val"),
            )

        delta_writer.write(spark, mk(0, 2000).repartition(16), _OPT_FIXTURE)
        delta_writer.write(
            spark, mk(2000, 4000).repartition(16), _OPT_FIXTURE, mode="append"
        )
        maintenance.compact(spark, _OPT_FIXTURE)
        maintenance.zorder_cluster(spark, _OPT_FIXTURE, ["a", "b"])

    _build_delta_fixture(_OPT_MARKER, build, clean=[_OPT_FIXTURE])


@query("delta_optimize_zorder_snapshot", _OPT_ORACLE)
def delta_optimize_zorder_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Post-OPTIMIZE+ZORDER snapshot aggregate + live-file proof (sf_dir
    unused — the fixture is scale-independent)."""
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_optimize_fixture(spark)
    log = DeltaLog(spark, _OPT_FIXTURE)
    n_live = len(log.live_add_actions())
    return (
        log.snapshot()
        .groupBy((F.col("id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("long").alias("sum_v"),
        )
        .withColumn("n_live_files", F.lit(n_live).cast("long"))
        .withColumn("last_version", F.lit(log.version()).cast("long"))
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# D62 — FSCK REPAIR, oracle-checked (r10): one partition's data file is
# deleted OUT-OF-BAND (the lost-bucket-prefix incident), FSCK drops its
# add action, and the snapshot must read cleanly as exactly the
# surviving partitions — vs the closed form over range() minus the lost
# residue class. Structural columns carry the repair report.
_FSCK_FIXTURE = "/tmp/delta_lake_health_spark_fixture/fsck_table"
_FSCK_MARKER = os.path.join(_FSCK_FIXTURE, "_FSCK_FIXTURE_COMPLETE")

_FSCK_ORACLE = """
    SELECT CAST(id % 3 AS BIGINT) AS grp,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 7) AS BIGINT) AS sum_v,
           CAST(1 AS BIGINT) AS n_missing_repaired
    FROM range(600) t(id)
    WHERE id % 3 <> 1
    GROUP BY 1 ORDER BY 1
"""


def _ensure_fsck_fixture(spark: SparkSession) -> None:
    """Builds the fixture and records the repair count in the marker
    (the query reads the marker — single source of truth)."""
    import glob as _glob

    from delta_lake_health_spark.operators.maintenance import fsck_repair
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        base = spark.range(0, 600).select(
            "id", (F.col("id") % 3).alias("grp"), (F.col("id") * 7).alias("val")
        )
        for g in (0, 1, 2):  # one file per partition (coalesced appends)
            delta_writer.write(
                spark,
                base.where(F.col("grp") == g).coalesce(1),
                _FSCK_FIXTURE,
                mode="append",
                partition_by=["grp"],
            )
        # the incident: grp=1's only data file vanishes out-of-band
        (victim,) = _glob.glob(os.path.join(_FSCK_FIXTURE, "grp=1", "*.parquet"))
        os.remove(victim)
        m = fsck_repair(spark, _FSCK_FIXTURE)
        with open(_FSCK_MARKER + ".value", "w") as fh:
                fh.write(str(m["numMissingFiles"]))

    _build_delta_fixture(_FSCK_MARKER, build, clean=[_FSCK_FIXTURE])


@query("delta_fsck_snapshot", _FSCK_ORACLE)
def delta_fsck_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-FSCK snapshot aggregate (sf_dir unused — the fixture is
    scale-independent)."""
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_fsck_fixture(spark)
    with open(_FSCK_MARKER + ".value") as fh:
        n_missing = int(fh.read().strip())
    log = DeltaLog(spark, _FSCK_FIXTURE)
    return (
        log.snapshot()
        .groupBy(F.col("grp").cast("long").alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("long").alias("sum_v"),
        )
        .withColumn(
            "n_missing_repaired", F.lit(n_missing).cast("long")
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# D60 — DEEP CLONE, oracle-checked (r10): clone a two-commit source,
# then MUTATE THE SOURCE (delete + append). The clone must read exactly
# the as-of-clone state — deep copies share nothing with the source —
# and every live clone file must live under the clone directory
# (structural column n_foreign_files = 0).
_DCLONE_SRC = "/tmp/delta_lake_health_spark_fixture/dclone_src"
_DCLONE_DST = "/tmp/delta_lake_health_spark_fixture/dclone_dst"
_DCLONE_MARKER = os.path.join(_DCLONE_DST, "_DCLONE_FIXTURE_COMPLETE")

_DCLONE_ORACLE = """
    SELECT CAST(id % 4 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 11) AS BIGINT) AS sum_v,
           CAST(0 AS BIGINT) AS n_foreign_files
    FROM range(700) t(id)
    GROUP BY 1 ORDER BY 1
"""


def _ensure_dclone_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:

        def mk(lo: int, hi: int) -> DataFrame:
            return spark.range(lo, hi).select(
                "id", (F.col("id") * 11).alias("val")
            )

        delta_writer.write(spark, mk(0, 500), _DCLONE_SRC)
        delta_writer.write(spark, mk(500, 700), _DCLONE_SRC, mode="append")
        delta_writer.clone_deep(spark, _DCLONE_SRC, _DCLONE_DST)
        # source moves on; the deep clone must not notice
        delta_writer.delete(spark, _DCLONE_SRC, "id < 100")
        delta_writer.write(spark, mk(900, 950), _DCLONE_SRC, mode="append")

    _build_delta_fixture(_DCLONE_MARKER, build, clean=[_DCLONE_SRC, _DCLONE_DST])


@query("delta_deep_clone_snapshot", _DCLONE_ORACLE)
def delta_deep_clone_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep-clone snapshot after source mutation (sf_dir unused — the
    fixture is scale-independent)."""
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_dclone_fixture(spark)
    log = DeltaLog(spark, _DCLONE_DST)
    # an ABSOLUTE add path is foreign by definition (it can only point
    # outside the clone dir — and os.path.join would otherwise resolve
    # it to the still-existing source bytes, hiding the regression)
    foreign = sum(
        1
        for a in log.live_add_actions()
        if os.path.isabs(a["path"])
        or not os.path.exists(os.path.join(_DCLONE_DST, a["path"]))
    )
    return (
        log.snapshot()
        .groupBy((F.col("id") % 4).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("long").alias("sum_v"),
        )
        .withColumn("n_foreign_files", F.lit(foreign).cast("long"))
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# D73 — HILBERT clustering, oracle-checked (r10): the same
# data-preservation contract as the Z-order row, through the Hilbert
# rewrite (Skilling transform inside Arrow-batched mapInPandas). The
# per-bucket aggregate must equal the closed form after the
# dataChange=false rewrite; structural columns carry the live-file
# count and version. Locality superiority over Z-order is quantified
# separately in tests/test_hilbert.py.
_HILBERT_FIXTURE = "/tmp/delta_lake_health_spark_fixture/hilbert_table"
_HILBERT_MARKER = os.path.join(_HILBERT_FIXTURE, "_HILBERT_FIXTURE_COMPLETE")

_HILBERT_ORACLE = """
    SELECT CAST(id % 8 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 5) AS BIGINT) AS sum_v,
           CAST(3 AS BIGINT) AS last_version
    FROM range(3000) t(id) GROUP BY 1 ORDER BY 1
"""


def _ensure_hilbert_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.operators import maintenance
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:

        def mk(lo: int, hi: int) -> DataFrame:
            return spark.range(lo, hi).select(
                "id",
                (F.col("id") % 64).alias("x"),
                ((F.col("id") / 64).cast("long") % 64).alias("y"),
                (F.col("id") * 5).alias("val"),
            )

        delta_writer.write(spark, mk(0, 1500).repartition(8), _HILBERT_FIXTURE)
        delta_writer.write(
            spark, mk(1500, 3000).repartition(8), _HILBERT_FIXTURE, mode="append"
        )
        maintenance.compact(spark, _HILBERT_FIXTURE)
        maintenance.hilbert_cluster(spark, _HILBERT_FIXTURE, ["x", "y"])

    _build_delta_fixture(_HILBERT_MARKER, build, clean=[_HILBERT_FIXTURE])


@query("delta_hilbert_snapshot", _HILBERT_ORACLE)
def delta_hilbert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-HILBERT snapshot aggregate (sf_dir unused — the fixture is
    scale-independent)."""
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_hilbert_fixture(spark)
    log = DeltaLog(spark, _HILBERT_FIXTURE)
    return (
        log.snapshot()
        .groupBy((F.col("id") % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("long").alias("sum_v"),
        )
        .withColumn("last_version", F.lit(log.version()).cast("long"))
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# D69 — RESTORE TO TIMESTAMP, oracle-checked (r10): three commits
# (seed, append, delete), then a RESTORE addressed by the APPEND
# commit's own logged timestamp — resolution must land at-or-before
# that commit (the adjusted-clock rules of read-side time travel), so
# the restored state is exactly seed+append with the later delete
# undone, vs the closed-form oracle.
_RTS_FIXTURE = "/tmp/delta_lake_health_spark_fixture/rts_table"
_RTS_MARKER = os.path.join(_RTS_FIXTURE, "_RTS_FIXTURE_COMPLETE")

_RTS_ORACLE = """
    SELECT CAST(id % 4 AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(id * 13) AS BIGINT) AS sum_v,
           CAST(3 AS BIGINT) AS last_version
    FROM range(600) t(id) GROUP BY 1 ORDER BY 1
"""


def _ensure_rts_fixture(spark: SparkSession) -> None:

    from delta_lake_health_spark.operators.maintenance import (
        restore_to_timestamp,
    )
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    def build() -> None:

        def mk(lo: int, hi: int) -> DataFrame:
            return spark.range(lo, hi).select(
                "id", (F.col("id") * 13).alias("val")
            )

        import time as _time

        # distinct milliseconds between ALL commits: same-ms neighbours make
        # "AS OF <history timestamp>" ambiguous — the adjusted monotonic
        # series places a same-ms commit one ms past its raw history
        # timestamp (exactly Delta's DeltaHistoryManager behavior), so a
        # fast box would resolve v1's raw timestamp to v0
        delta_writer.write(spark, mk(0, 400), _RTS_FIXTURE)
        _time.sleep(0.05)
        delta_writer.write(spark, mk(400, 600), _RTS_FIXTURE, mode="append")
        _time.sleep(0.05)
        delta_writer.delete(spark, _RTS_FIXTURE, "id < 50")
        ts_v1 = {
            r.version: r.timestamp
            for r in DeltaLog(spark, _RTS_FIXTURE).history().collect()
        }[1]
        restore_to_timestamp(spark, _RTS_FIXTURE, ts_v1)
        n = DeltaLog(spark, _RTS_FIXTURE).snapshot().count()
        if n != 600:  # fail loud at build time, not as an oracle mismatch
            raise RuntimeError(f"RESTORE TO TIMESTAMP landed {n} rows, not 600")

    _build_delta_fixture(_RTS_MARKER, build, clean=[_RTS_FIXTURE])


@query("delta_restore_timestamp_snapshot", _RTS_ORACLE)
def delta_restore_timestamp_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Post-RESTORE-TO-TIMESTAMP snapshot aggregate (sf_dir unused — the
    fixture is scale-independent)."""
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_rts_fixture(spark)
    log = DeltaLog(spark, _RTS_FIXTURE)
    return (
        log.snapshot()
        .groupBy((F.col("id") % 4).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("val").cast("long").alias("sum_v"),
        )
        .withColumn("last_version", F.lit(log.version()).cast("long"))
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# D76 — column DEFAULT values, oracle-checked: a table declares
# DEFAULTs for tag ('unknown') and v (2.5); later appends OMIT one or
# both columns and the writer must materialize the defaults (cast to
# the declared types). The per-tag snapshot aggregate equals the
# closed form of which batches carried which columns — proving the
# fill path end-to-end against an independent engine (refusal paths —
# non-constant expressions, drop-default conformance — stay
# pytest-covered in tests/test_column_defaults.py).
_DEFAULTS_FIXTURE = "/tmp/delta_lake_health_spark_fixture/defaults_table"
_DEFAULTS_MARKER = os.path.join(
    _DEFAULTS_FIXTURE, "_DEFAULTS_FIXTURE_COMPLETE"
)

_DEFAULTS_ORACLE = """
    WITH rows AS (
      SELECT id, 'explicit' AS tag, id * 0.5 AS v FROM range(0, 40) t(id)
      UNION ALL
      SELECT id, 'unknown' AS tag, 2.5 AS v FROM range(40, 90) t(id)
      UNION ALL
      SELECT id, 'late' AS tag, 2.5 AS v FROM range(90, 120) t(id)
    )
    SELECT tag, COUNT(*) AS n_rows,
           ROUND(SUM(CAST(v AS DOUBLE)), 6) AS sum_v
    FROM rows GROUP BY tag ORDER BY tag
"""


def _ensure_defaults_fixture(spark: SparkSession) -> None:
    from delta_lake_health_spark.sources import delta_writer

    def build() -> None:
        delta_writer.write(
            spark,
            spark.range(0, 40).selectExpr(
                "id", "'explicit' AS tag", "CAST(id * 0.5 AS DOUBLE) AS v"
            ),
            _DEFAULTS_FIXTURE,
        )
        delta_writer.set_column_default(
            spark, _DEFAULTS_FIXTURE, "tag", "'unknown'"
        )
        delta_writer.set_column_default(spark, _DEFAULTS_FIXTURE, "v", "2.5")
        # batch omits BOTH defaulted columns
        delta_writer.write(
            spark,
            spark.range(40, 90).selectExpr("id"),
            _DEFAULTS_FIXTURE,
            mode="append",
        )
        # batch provides tag but omits v
        delta_writer.write(
            spark,
            spark.range(90, 120).selectExpr("id", "'late' AS tag"),
            _DEFAULTS_FIXTURE,
            mode="append",
        )

    from delta_lake_health_spark.sources import delta_writer as _dw

    _build_delta_fixture(
        _DEFAULTS_MARKER,
        build,
        clean=[_DEFAULTS_FIXTURE],
        deps=(_dw.set_column_default, _dw._fill_default_columns),
    )


@query("delta_column_defaults", _DEFAULTS_ORACLE)
def delta_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    _ensure_defaults_fixture(spark)
    return (
        DeltaLog(spark, _DEFAULTS_FIXTURE)
        .snapshot()
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("v"), 6).alias("sum_v"),
        )
        .select("tag", "n_rows", "sum_v")
        .orderBy("tag")
    )
