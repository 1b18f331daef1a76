"""Incrementally-maintained materialized aggregate views over Delta
tables.

A grouped count/sum aggregate is *self-maintainable*: the new state is a
pure function of the old state plus the signed row deltas, so a refresh
needs only the rows each commit touched — never a rescan of the source.
This module keeps such an MV (itself a Delta table) in sync with its
source through the row-level change feed (``sources/cdf.py``):

    create_mv   : full compute at source version V, recorded via a
                  ``txn`` action (appId ``mv-sync``) on the MV's log
    refresh_mv  : reads ``row_changes(last_synced + 1, current)``,
                  folds +1/-1 signed deltas per group, overwrites the
                  (tiny) MV table, and advances the ``txn`` watermark

Exactly-once: the synced source version rides the Delta ``txn``
replay-guard on the MV table, so a crashed/re-run refresh of the same
range is a no-op — the same mechanism the streaming sinks use
(``delta_writer.write`` txn handling).

100 TB design: the expensive side is the SOURCE read, and it is
proportional to the commits' touched files only (a daily 0.1% delta
reads 0.1% of the data); the MV itself is |groups| rows, so the
overwrite is metadata-cheap. Compaction / z-order on the source commit
``dataChange = false`` actions, which the feed skips — maintenance never
perturbs the aggregate.

The reference (alvaromoureupm/delta-lake-health) surfaces history-driven
operation counts (delta_python_analyzer.py:168); incremental view
maintenance is this repo's Spark-side extension of that log-driven idea.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.cdf import (
    CHANGE_TYPE,
    _row_changes,
    changed_actions,
)
from delta_lake_health_spark.sources.delta_log import read_files

MV_APP_ID = "mv-sync"


def _mv_plan(keys: list[str], sum_cols: list[str]):
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    return aggs


def create_mv(
    spark: SparkSession,
    source_path: str,
    mv_path: str,
    keys: list[str],
    sum_cols: list[str],
) -> int:
    """Full compute of the grouped count/sum MV at the source's current
    version; returns that synced version. The version recorded and the
    files aggregated come from one source snapshot."""
    src = log_replay.table_snapshot(source_path)
    synced = src.version()
    full = read_files(spark, src).groupBy(*keys).agg(*_mv_plan(keys, sum_cols))
    delta_writer.write(
        spark,
        full,
        mv_path,
        mode="overwrite",
        txn_app_id=MV_APP_ID,
        txn_version=synced,
    )
    return synced


def refresh_mv(
    spark: SparkSession,
    source_path: str,
    mv_path: str,
    keys: list[str],
    sum_cols: list[str],
) -> dict:
    """Fold the source commits since the last sync into the MV.

    Returns metrics: ``{"from_version", "to_version", "files_read",
    "groups_touched", "refreshed"}`` — ``files_read`` is the exact set of
    source data files the refresh planned to read, which a test can
    assert equals the touched files only (the incrementality proof).

    One source snapshot gives the version range, ``files_read`` and the
    feed; one MV snapshot gives the synced version and the old state."""
    src = log_replay.table_snapshot(source_path)
    mv = log_replay.table_snapshot(mv_path)
    last = mv.txn_version(MV_APP_ID)
    if last is None:
        raise ValueError(f"{mv_path} is not an MV created by create_mv")
    cur = src.version()
    if cur <= last:
        return {
            "from_version": last,
            "to_version": cur,
            "files_read": [],
            "groups_touched": 0,
            "refreshed": False,
        }

    files_read = sorted(
        {
            p
            for slot in changed_actions(src, last + 1, cur)
            # a cdc commit's feed reads ONLY its change-data files
            for p in (
                slot["cdcs"]
                if slot.get("cdcs")
                else slot["adds"] + slot["removes"] + slot["dvs"]
            )
        }
    )
    # postimage rows fold like inserts, preimage rows like deletes — the
    # signed-delta algebra is unchanged by true row-level updates
    sign = F.when(
        F.col(CHANGE_TYPE).isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta_aggs = [F.sum(sign).alias("d_n")]
    delta_aggs += [
        F.sum(sign * F.col(c)).alias(f"d_{c}") for c in sum_cols
    ]
    deltas = (
        _row_changes(spark, src, last + 1, cur)
        .groupBy(*keys)
        .agg(*delta_aggs)
    )
    groups_touched = deltas.count()

    old = read_files(spark, mv)
    merged = old.join(deltas, keys, "full_outer").select(
        *keys,
        (F.coalesce(F.col("n_rows"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))).alias(
            "n_rows"
        ),
        *[
            (
                F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                + F.coalesce(F.col(f"d_{c}"), F.lit(0))
            )
            .cast(dict(old.dtypes)[f"sum_{c}"])
            .alias(f"sum_{c}")
            for c in sum_cols
        ],
    ).where(F.col("n_rows") > 0)

    delta_writer.write(
        spark,
        merged,
        mv_path,
        mode="overwrite",
        txn_app_id=MV_APP_ID,
        txn_version=cur,
    )
    return {
        "from_version": last + 1,
        "to_version": cur,
        "files_read": files_read,
        "groups_touched": groups_touched,
        "refreshed": True,
    }


def read_mv(spark: SparkSession, mv_path: str) -> DataFrame:
    return read_files(spark, log_replay.table_snapshot(mv_path))
