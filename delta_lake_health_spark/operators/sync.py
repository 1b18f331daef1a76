"""Incremental CDC replication: APPLY CHANGES from one Delta table's
change feed into another (the medallion bronze→silver sync; Databricks
``APPLY CHANGES INTO`` / delta-rs CDF consumers).

``apply_changes(spark, src, dst, key_cols)`` reads only the source
commits past the last synced version (tracked in the target's
``delta.cdcSync`` domainMetadata, keyed per source path), folds the
change rows to one NET action per key (last writer wins on
``_commit_version``; an update appears in the feed as delete+insert at
the same version, so insert outranks delete within a version), then

- MERGEs the after-images into the target (update on match, insert
  otherwise), and
- soft-deletes the net-deleted keys via a deletion-vector sidecar
  (positions found with one key semi-join against the lineage-tagged
  snapshot — |touched files| cost, never a table rewrite).

Restart safety: both halves are idempotent (re-merging the same
after-images and re-deleting already-absent keys are no-ops), so the
sync marker may land in its own commit; a crash between apply and
marker only re-applies the same batch.

Scale: the feed read is |changed commits|' files, the fold shuffles on
key, the merge/delete touch only files containing changed keys. Nothing
scales with the untouched part of either table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.cdf import table_changes
from delta_lake_health_spark.sources.delta_log import DeltaLog

SYNC_DOMAIN = "delta.cdcSync"


def _last_synced(spark: SparkSession, dst_path: str, src_key: str) -> int | None:
    if delta_writer.current_version(dst_path) < 0:
        return None
    cfg = DeltaLog(spark, dst_path).domain_metadata(SYNC_DOMAIN) or {}
    v = cfg.get(src_key)
    return int(v) if v is not None else None


def _record_synced(
    spark: SparkSession, dst_path: str, src_key: str, version: int
) -> None:
    snap = log_replay.Snapshot(dst_path)
    cfg = snap.domain_metadata(SYNC_DOMAIN) or {}
    actions = []
    upgrade = delta_writer._protocol_upgrade_action(snap, "domainMetadata")
    if upgrade is not None:
        actions.append(upgrade)
    actions.append(
        {
            "domainMetadata": {
                "domain": SYNC_DOMAIN,
                "configuration": json.dumps({**cfg, src_key: version}),
                "removed": False,
            }
        }
    )
    actions.append(
        delta_writer._commit_info(
            "CDC SYNC MARKER", {"source": src_key, "version": str(version)}, {}
        )
    )
    # a concurrent marker for another source rewrote the same domain:
    # the conflict check refuses this one instead of dropping that entry
    delta_writer.commit_mutation(snap, actions)


def _delete_keys_dv(
    spark: SparkSession, dst_path: str, keys: DataFrame, key_cols: list[str]
) -> int:
    """DELETE WHERE key IN (keys) via a deletion vector: the DV DELETE of
    ``delete_with_dv`` with a key semi-join against the (tiny, broadcast)
    key set in place of its SQL predicate. Already-absent keys commit
    nothing, so a replayed batch leaves the target's version alone."""
    return delta_writer._delete_rows_dv(
        spark,
        dst_path,
        lambda rows: rows.join(F.broadcast(keys), key_cols, "left_semi"),
        f"key in cdc batch ({key_cols})",
        commit_no_match=False,
    )


def apply_changes(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    key_cols: list[str],
) -> dict:
    """One sync cycle; returns
    ``{"fromVersion", "toVersion", "numUpserts", "numDeletes",
    "seeded"}``. The first call seeds the target with the source
    snapshot; later calls apply only the new commits' net changes."""
    src_key = os.path.abspath(src_path)
    src_log = DeltaLog(spark, src_path)
    src_version = src_log.version()
    last = _last_synced(spark, dst_path, src_key)

    if last is None:
        snap = src_log.snapshot()
        delta_writer.write(spark, snap, dst_path)
        _record_synced(spark, dst_path, src_key, src_version)
        return {
            "fromVersion": 0,
            "toVersion": src_version,
            "numUpserts": snap.count(),
            "numDeletes": 0,
            "seeded": True,
        }
    if last >= src_version:
        return {
            "fromVersion": last,
            "toVersion": src_version,
            "numUpserts": 0,
            "numDeletes": 0,
            "seeded": False,
        }

    changes = table_changes(spark, src_path, last + 1, src_version)
    applied = apply_net_changes(spark, dst_path, changes, key_cols)
    _record_synced(spark, dst_path, src_key, src_version)
    return {
        "fromVersion": last + 1,
        "toVersion": src_version,
        "numUpserts": applied["numUpserts"],
        "numDeletes": applied["numDeletes"],
        "seeded": False,
    }


def _normalize_changes(changes: DataFrame) -> DataFrame:
    """Fold CDF-file-tagged rows into the insert/delete vocabulary the
    net fold speaks: a CDF-enabled source's update commits carry
    ``update_preimage``/``update_postimage`` rows (Delta CDC files)
    instead of the delete+insert pair the log reconstruction emits —
    the postimage IS the upsert, the preimage is noise."""
    return changes.where(
        F.col("_change_type") != "update_preimage"
    ).withColumn(
        "_change_type",
        F.when(
            F.col("_change_type") == "update_postimage", F.lit("insert")
        ).otherwise(F.col("_change_type")),
    )


def apply_net_changes(
    spark: SparkSession,
    dst_path: str,
    changes: DataFrame,
    key_cols: list[str],
    txn_app_id: str | None = None,
    txn_version: int | None = None,
) -> dict:
    """Fold one window of change rows (columns = data + ``_change_type``
    + ``_commit_version``) to ONE net action per key and apply it to the
    target: MERGE the after-images, DV-delete the net-deleted keys.
    Shared by the batch sync (:func:`apply_changes`) and the streaming
    ``foreachBatch`` sink (:func:`streaming.jobs.stream_apply_changes`).

    With ``txn_app_id``/``txn_version`` the merge half carries the
    idempotent-replay ``txn`` guard (a re-delivered micro-batch is
    skipped); the delete half runs FIRST and is naturally idempotent
    (already-absent keys produce no DV positions) — so a crash at any
    point between the two halves replays to the same converged state.
    Returns ``{"numUpserts", "numDeletes"}``."""
    data_cols = [
        c
        for c in changes.columns
        if c not in ("_change_type", "_commit_version", "_commit_timestamp")
    ]
    # net action per key: last commit wins; within a commit an update's
    # insert outranks its delete half
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc("_commit_version"),
        F.desc((F.col("_change_type") == "insert").cast("int")),
    )
    net = (
        _normalize_changes(changes)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        # the fold is consumed three times (upsert count + merge,
        # delete count + DV positions): materialize it once instead of
        # re-reading the feed's files per consumer
        .localCheckpoint()
    )
    upserts = net.where(F.col("_change_type") == "insert").select(*data_cols)
    deletes = net.where(F.col("_change_type") == "delete").select(*key_cols)
    n_up = upserts.count()
    n_del = deletes.count()
    if n_del and delta_writer.current_version(dst_path) >= 0:
        _delete_keys_dv(spark, dst_path, deletes, key_cols)
    if n_up:
        if delta_writer.current_version(dst_path) < 0:
            delta_writer.write(
                spark,
                upserts,
                dst_path,
                mode="append",
                txn_app_id=txn_app_id,
                txn_version=txn_version,
            )
        else:
            delta_writer.merge(
                spark,
                dst_path,
                upserts,
                key_cols,
                txn_app_id=txn_app_id,
                txn_version=txn_version,
            )
    return {"numUpserts": n_up, "numDeletes": n_del}
