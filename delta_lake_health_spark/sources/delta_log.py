"""Delta transaction-log reader — no delta library.

The ``_delta_log`` of a Delta table is newline-delimited JSON (plus
optional parquet checkpoints). It is read once, by the driver-side replay
in ``log_replay`` (checkpoint + JSON tail in plain Python, no Spark job),
and every ``DeltaLog`` answer comes from that replay:

- **Metadata-sized answers** — version, metadata, protocol, live add
  actions, deletion-vector paths, record counts, file stats, operation
  counts, ``txn`` and domain metadata, commit timestamps, DESCRIBE
  DETAIL and checkpoint writing (pyarrow) — are Python values.
- **Log DataFrames** — actions, active files, tombstones, DESCRIBE
  HISTORY, file-level changes and the data-skipping candidates — are the
  replay's rows as arrow LocalRelations: built once, unchanged by later
  commits, and collected without a Spark job.
- **Data** — snapshots, time travel, position-tracking reads and pruned
  scans — go through one live-file scan, ``read_files``.

One snapshot per answer and per scan: each ``DeltaLog`` call lists the
log once, and ``read_files`` takes every fact from the snapshot it is
handed, so a writer scans the snapshot it commits against.

Replaces the reference's delta-rs ``DeltaTable`` dependency
(src/delta_lake_health/health_analyzers/delta_python_analyzer.py:17-31,
109-133): same observable surface (active files, history, metadata,
record counts from add-file stats) re-expressed as a driver-side replay
plus DataFrame plans.
"""

from __future__ import annotations

import json
import os
from collections import Counter, namedtuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from delta_lake_health_spark.sources import log_replay
from delta_lake_health_spark.sources.log_replay import (  # noqa: F401
    LOG_DIR,
    checkpoint_file_names,  # re-exported for callers of this module
)

_STR_MAP = MapType(StringType(), StringType())

# Deletion-vector sidecars: parquet directories under DELETES_DIR, each
# listing soft-deleted row positions as (data file rel path, row index).
DELETES_DIR = "_deletes"
DV_SCHEMA = StructType(
    [StructField("rel_path", StringType()), StructField("row_index", LongType())]
)


def read_deletion_vectors(
    spark: SparkSession, table_path: str, rel_paths: list[str]
) -> DataFrame | None:
    """The (rel_path, row_index) rows of the sidecars ``rel_paths`` of
    ``table_path``, or None when there are none. The declared schema
    spares each read a schema-inference job."""
    if not rel_paths:
        return None
    root = os.path.abspath(table_path)
    return spark.read.schema(DV_SCHEMA).parquet(
        *[os.path.join(root, p) for p in rel_paths]
    )


ACTION_SCHEMA = StructType(
    [
        StructField(
            "add",
            StructType(
                [
                    StructField("path", StringType()),
                    StructField("partitionValues", _STR_MAP),
                    StructField("size", LongType()),
                    StructField("modificationTime", LongType()),
                    StructField("dataChange", BooleanType()),
                    StructField("stats", StringType()),
                    # free-form writer tags (Delta spec add.tags):
                    # z-order incremental maintenance records its ZCUBE
                    # membership here
                    StructField("tags", _STR_MAP),
                    # Delta row tracking: this file's rows carry fresh
                    # row ids [baseRowId, baseRowId + numRecords - 1]
                    StructField("baseRowId", LongType()),
                    StructField("defaultRowCommitVersion", LongType()),
                ]
            ),
        ),
        StructField(
            "remove",
            StructType(
                [
                    StructField("path", StringType()),
                    StructField("deletionTimestamp", LongType()),
                    StructField("dataChange", BooleanType()),
                ]
            ),
        ),
        StructField(
            "metaData",
            StructType(
                [
                    StructField("id", StringType()),
                    StructField("name", StringType()),
                    StructField("schemaString", StringType()),
                    StructField("partitionColumns", ArrayType(StringType())),
                    StructField("configuration", _STR_MAP),
                    StructField("createdTime", LongType()),
                ]
            ),
        ),
        StructField(
            "protocol",
            StructType(
                [
                    StructField("minReaderVersion", IntegerType()),
                    StructField("minWriterVersion", IntegerType()),
                    StructField("readerFeatures", ArrayType(StringType())),
                    StructField("writerFeatures", ArrayType(StringType())),
                ]
            ),
        ),
        StructField(
            "commitInfo",
            StructType(
                [
                    StructField("timestamp", LongType()),
                    # Delta ICT: the monotonic commit-time authority for
                    # timestampAsOf (falls back to `timestamp` when absent)
                    StructField("inCommitTimestamp", LongType()),
                    StructField("operation", StringType()),
                    StructField("operationParameters", _STR_MAP),
                    StructField("operationMetrics", _STR_MAP),
                ]
            ),
        ),
        # Application transaction marker (Delta spec's txn action): a
        # writer records (appId, version) with each commit; an idempotent
        # writer (e.g. a streaming sink keyed by checkpoint dir + batch id)
        # skips any batch at or below the last recorded version.
        StructField(
            "txn",
            StructType(
                [
                    StructField("appId", StringType()),
                    StructField("version", LongType()),
                    StructField("lastUpdated", LongType()),
                ]
            ),
        ),
        # Change-data file (Delta spec's cdc action / AddCDCFile): a
        # parquet under _change_data/ carrying this commit's row-level
        # changes WITH their _change_type (update_preimage /
        # update_postimage), written when delta.enableChangeDataFeed is
        # set. Not part of table state (never checkpointed); CDF readers
        # prefer it over add/remove reconstruction for its commit.
        StructField(
            "cdc",
            StructType(
                [
                    StructField("path", StringType()),
                    StructField("partitionValues", _STR_MAP),
                    StructField("size", LongType()),
                    StructField("dataChange", BooleanType()),
                ]
            ),
        ),
        # Domain metadata (Delta spec's domainMetadata action): named,
        # system-maintained configuration that rides the log — the row
        # tracking high-water mark lives in domain "delta.rowTracking".
        StructField(
            "domainMetadata",
            StructType(
                [
                    StructField("domain", StringType()),
                    StructField("configuration", StringType()),
                    StructField("removed", BooleanType()),
                ]
            ),
        ),
        # Deletion vector: a position-delete sidecar (directory of parquet
        # with rel_path + row_index rows) that soft-deletes rows of live
        # files without rewriting them. Sidecar-file based like Iceberg
        # position deletes (the Delta spec's DVs use roaring bitmaps; the
        # log-level semantics here are the same).
        StructField(
            "dv",
            StructType(
                [
                    StructField("path", StringType()),
                    StructField("numDeletedRows", LongType()),
                ]
            ),
        ),
    ]
)


# one action row: every action column plus the commit version — what
# actions() returns and a checkpoint records
_STATE_SCHEMA = StructType([*ACTION_SCHEMA.fields, StructField("version", LongType())])

_HISTORY_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("timestamp", LongType()),
        StructField("operation", StringType()),
        StructField("operationParameters", _STR_MAP),
        StructField("operationMetrics", _STR_MAP),
    ]
)
_ACTIVE_FILES_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("partitionValues", _STR_MAP),
        StructField("size", LongType()),
        StructField("num_records", LongType()),
        StructField("version", LongType()),
    ]
)

_TOMBSTONES_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("version", LongType()),
        StructField("deletionTimestamp", LongType()),
    ]
)

_LIVE_ADDS_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("stats", StringType()),
        StructField("partitionValues", _STR_MAP),
    ]
)

_ROW_LINEAGE_SCHEMA = StructType(
    [
        StructField("_rel_path", StringType()),
        StructField("_base_row_id", LongType()),
        StructField("_row_commit_version", LongType()),
    ]
)

_CHANGES_SCHEMA = StructType(
    [
        StructField("version", LongType()),
        StructField("ts_ms", LongType()),
        StructField("change_type", StringType()),
        StructField("path", StringType()),
        StructField("num_records", LongType()),
        StructField("size", LongType()),
    ]
)


# one live file as ``live_files_rows`` returns it
LiveFile = namedtuple("LiveFile", ["path", "partitionValues"])


class DeltaLog:
    """Reader for one table's ``_delta_log``: each call lists the log
    once and answers from that one ``log_replay.Snapshot``."""

    def __init__(self, spark: SparkSession, table_path: str):
        self.spark = spark
        self.table_path = os.path.abspath(table_path)
        self.log_dir = os.path.join(self.table_path, LOG_DIR)
        if not os.path.isdir(self.log_dir):
            raise FileNotFoundError(f"not a Delta table (no {LOG_DIR}): {table_path}")

    def _local(self, rows: list[dict], schema: StructType) -> DataFrame:
        """``rows`` as a DataFrame of ``schema``: an arrow LocalRelation,
        so the rows are fixed when it is built (a later commit never
        changes it) and collecting it runs no Spark job."""
        return self.spark.createDataFrame(
            log_replay.arrow_table(rows, log_replay.arrow_schema(schema.jsonValue())),
            schema,
        )

    # -- raw actions -------------------------------------------------------

    def last_checkpoint(self) -> int | None:
        """Version of the newest checkpoint, from ``_last_checkpoint``."""
        info = self.last_checkpoint_info()
        return None if info is None else int(info["version"])

    def last_checkpoint_info(self) -> dict | None:
        """The ``_last_checkpoint`` record (version, size, and — for
        multi-part checkpoints — parts), or None."""
        return log_replay.last_checkpoint_info(self.table_path)

    def actions(self, use_checkpoint: bool = True) -> DataFrame:
        """All actions, tagged with their version.

        With a checkpoint present, the checkpoint's rows (the compacted
        state at version V) plus ONLY the commit JSONs after V — log-read
        cost is bounded by checkpoint interval, not table age.
        ``use_checkpoint=False`` replays the raw JSON commits instead
        (needed for time travel to versions at or before the checkpoint,
        which compacts away superseded adds).
        """
        rows = log_replay.Snapshot(self.table_path).actions(use_checkpoint)
        if not rows:
            raise FileNotFoundError(f"empty delta log: {self.log_dir}")
        return self._local(rows, _STATE_SCHEMA)

    def checkpoint(
        self,
        tombstone_retention_hours: float = 168.0,
        rows_per_part: int = 500_000,
        format: str = "v1",
    ) -> int:
        """Write a checkpoint of the CURRENT reconciled state and update
        ``_last_checkpoint``; returns the checkpointed version. The state
        comes from the driver-side replay and is written with pyarrow
        (``log_replay.Snapshot.write_checkpoint``), so no Spark job runs.

        State = live adds + UNEXPIRED remove tombstones (as the Delta spec
        requires — dropping them would make a later ``vacuum`` age
        recently-removed files by file mtime and delete them inside the
        retention window) + latest metaData/protocol + all commitInfo
        entries (an extension over the Delta spec so history/op-count
        metrics survive checkpoint truncation) + live deletion vectors +
        the latest txn per appId and domainMetadata per domain, each row
        keeping its original ``version``. Tombstones older than
        ``tombstone_retention_hours`` are compacted away; keep this >= the
        vacuum retention you intend to use (same coupling as Delta's
        ``deletedFileRetentionDuration``).

        A state of more than ``rows_per_part`` rows is written MULTI-PART
        (``<v>.checkpoint.<i>.<n>.parquet`` per the Delta spec, recorded
        as ``parts`` in ``_last_checkpoint``); a small one stays a single
        ``<v>.checkpoint.parquet``. ``format="v2"`` writes the Delta
        V2-checkpoint layout instead: the file actions (add/remove) in
        sidecars of at most ``rows_per_part`` rows under
        ``_delta_log/_sidecars/``, and a UUID-named top-level
        ``<v>.checkpoint.<uuid>.parquet`` with the other actions plus one
        ``checkpointMetadata`` row and one ``sidecar`` row per sidecar.
        Writing v2 first upgrades the table protocol to table features
        with ``v2Checkpoint`` in its own commit (readers without the
        feature must refuse, per the spec).
        """
        import time

        if format not in ("v1", "v2"):
            raise ValueError(f"unknown checkpoint format {format!r}")
        if format == "v2":
            from delta_lake_health_spark.sources import delta_writer

            # a checkpoint is not a commit, so the protocol upgrade is its
            # own tiny commit FIRST: a reader must never find a v2
            # checkpoint on a table whose protocol does not announce it
            snap = log_replay.Snapshot(self.table_path)
            upgrade = delta_writer._protocol_upgrade_action(
                snap, "v2Checkpoint"
            )
            if upgrade is not None:
                delta_writer.commit_mutation(
                    snap,
                    [
                        upgrade,
                        delta_writer._commit_info(
                            "UPGRADE PROTOCOL", {"feature": "v2Checkpoint"}, {}
                        ),
                    ],
                )
        cutoff_ms = int((time.time() - tombstone_retention_hours * 3600) * 1000)
        return log_replay.Snapshot(self.table_path).write_checkpoint(
            log_replay.arrow_schema(_STATE_SCHEMA.jsonValue()), cutoff_ms, rows_per_part, v2=format == "v2"
        )

    # -- snapshot ----------------------------------------------------------

    def earliest_version(self) -> int:
        """Lowest commit JSON still on disk — 0 until
        ``maintenance.cleanup_log`` expires pre-checkpoint history."""
        return log_replay.Snapshot(self.table_path).earliest_version()

    def require_history_from(self, version: int) -> None:
        """Raise if raw-JSON replay starting at ``version`` is impossible
        because log cleanup expired earlier commits (Delta semantics:
        time travel / change feeds are bounded by log retention)."""
        log_replay.Snapshot(self.table_path).require_history_from(version)

    def active_files(self, as_of: int | None = None) -> DataFrame:
        """One row per live data file: path, partitionValues, size,
        num_records, version (the commit that added it), by path.
        ``as_of`` reconstructs the state as of that committed version
        (time travel)."""
        live, _, at = log_replay.Snapshot(self.table_path)._reconciled(as_of)
        return self._local(
            [
                {
                    "path": p,
                    "partitionValues": live[p].get("partitionValues"),
                    "size": live[p].get("size"),
                    "num_records": log_replay._num_records(live[p].get("stats")),
                    "version": at[p],
                }
                for p in sorted(live)
            ],
            _ACTIVE_FILES_SCHEMA,
        )

    def live_files_rows(self, as_of: int | None = None) -> list:
        """(path, partitionValues) of every live file at ``as_of``."""
        return [
            LiveFile(a["path"], a.get("partitionValues") or {})
            for a in log_replay.Snapshot(self.table_path).live_add_actions(as_of)
        ]

    def live_add_actions(self) -> list[dict]:
        """Full add-action dicts (path, partitionValues, size,
        modificationTime, stats) for every live file — what SHALLOW CLONE
        copies into the new table's log."""
        return log_replay.Snapshot(self.table_path).live_add_actions()

    def tombstones(self) -> DataFrame:
        """Files whose latest action is a remove (vacuum candidates):
        path, version, deletionTimestamp, by path."""
        _, tombs, at = log_replay.Snapshot(self.table_path)._reconciled(None)
        return self._local(
            [
                {"path": p, "version": at[p], "deletionTimestamp": tombs[p].get("deletionTimestamp")}
                for p in sorted(tombs)
            ],
            _TOMBSTONES_SCHEMA,
        )

    # -- history / metadata ------------------------------------------------

    def history(self, limit: int | None = None) -> DataFrame:
        """DESCRIBE HISTORY equivalent: version, timestamp, operation,
        operationParameters, operationMetrics — newest first; ``limit``
        keeps only the most recent N commits (`DESCRIBE HISTORY ... LIMIT`).

        Built on the driver from ``log_replay.Snapshot.commit_infos``: the
        checkpoint's commitInfo rows plus every retained commit JSON, one
        per version. Spec-compliant foreign checkpoints carry NO
        commitInfo, so the JSONs still on disk fill in (as Delta's
        DeltaHistoryManager walks the commit files); our own checkpoints
        RETAIN commitInfo, so after log cleanup (D49) the full operation
        history survives. The rows reach Spark as an arrow table (a
        LocalRelation): collecting them runs no job. The timestamp is the
        inCommitTimestamp when present, as Delta's DESCRIBE HISTORY
        reports it once ICT is enabled: the timestamp ``timestampAsOf``
        resolves, so a row's timestamp addresses ITS OWN version."""
        snap = log_replay.table_snapshot(self.table_path)
        infos = snap.commit_infos()
        rows = []
        for v in sorted(infos, reverse=True)[:limit]:
            rows.append({**infos[v], "version": v,
                         "timestamp": log_replay.info_timestamp(infos[v])})
        return self._local(rows, _HISTORY_SCHEMA)

    def version(self) -> int:
        return log_replay.table_snapshot(self.table_path).version()

    def metadata(self, as_of: int | None = None) -> dict:
        return log_replay.Snapshot(self.table_path).metadata(as_of)

    def partition_columns(self) -> list[str]:
        return self.metadata().get("partition_columns", [])

    @staticmethod
    def column_mapping(schema: dict | None) -> dict[str, str]:
        """{logical name: physical name} (``log_replay.physical_name``)
        for the fields whose two names differ. Empty for never-renamed
        tables (physical == logical)."""
        out: dict[str, str] = {}
        for f in (schema or {}).get("fields", []):
            p = log_replay.physical_name(f)
            if p != f["name"]:
                out[f["name"]] = p
        return out

    @staticmethod
    def physical_schema(schema: dict) -> dict:
        """The schema as written in data files: field names replaced by
        their physical names (RENAME COLUMN is metadata-only, so files —
        old and new — always carry physical names)."""
        return {
            "type": "struct",
            "fields": [
                {**f, "name": log_replay.physical_name(f)}
                for f in schema.get("fields", [])
            ],
        }

    def protocol(self) -> dict:
        """Latest protocol action: {minReaderVersion, minWriterVersion,
        readerFeatures, writerFeatures} (feature lists empty for legacy
        version-only protocols)."""
        return log_replay.Snapshot(self.table_path).protocol()

    def version_checksum(self) -> dict | None:
        """The current version's ``.crc`` checksum (tableSizeBytes,
        numFiles) written incrementally at commit time, or None when
        absent (foreign log / unresolvable commit) — see
        delta_writer._write_version_checksum."""
        return _version_checksum(log_replay.Snapshot(self.table_path))

    def detail(self) -> dict:
        """``DESCRIBE DETAIL`` equivalent (the fields the reference's
        Spark analyzer consumes — delta_spark_analyzer.py:116-189:
        sizeInBytes, numFiles, partitionColumns, location — plus the
        rest of Delta's detail row). Log-only aggregates, no data scan;
        size/count come from the version checksum when one exists (two
        numbers from one tiny file), replay otherwise."""
        snap = log_replay.Snapshot(self.table_path)
        meta = snap.metadata()
        crc = _version_checksum(snap)
        stats = (
            {
                "data_file_count": crc["numFiles"],
                "table_size_bytes": crc["tableSizeBytes"],
            }
            if crc is not None
            else _file_stats(snap)
        )
        proto = snap.protocol()
        stamps = [
            ci["timestamp"] for ci in snap.commit_infos().values()
            if ci.get("timestamp") is not None
        ]
        return {
            "format": "delta",
            "id": meta.get("id"),
            "name": meta.get("name"),
            "location": self.table_path,
            "createdAt": min(stamps, default=None),
            "lastModified": max(stamps, default=None),
            "partitionColumns": meta.get("partition_columns", []),
            "numFiles": stats["data_file_count"],
            "sizeInBytes": stats["table_size_bytes"],
            "properties": meta.get("configuration", {}),
            "minReaderVersion": proto["minReaderVersion"],
            "minWriterVersion": proto["minWriterVersion"],
        }

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest ``txn.version`` recorded for ``app_id``, or None —
        the idempotent-writer replay guard (Delta spec txn action)."""
        return log_replay.Snapshot(self.table_path).txn_version(app_id)

    # -- row tracking ------------------------------------------------------

    def domain_metadata(self, domain: str) -> dict | None:
        """Latest configuration for a ``domainMetadata`` domain (Delta
        spec), or None if never set / tombstoned (``removed=true``)."""
        return log_replay.Snapshot(self.table_path).domain_metadata(domain)

    def row_id_high_water_mark(self) -> int:
        """Highest assigned fresh row id (``delta.rowTracking`` domain),
        -1 when row tracking was never enabled."""
        cfg = self.domain_metadata("delta.rowTracking")
        if cfg is None:
            return -1
        return int(cfg.get("rowIdHighWaterMark", -1))

    def row_ids(self, as_of: int | None = None) -> DataFrame:
        """Snapshot plus Delta row-tracking lineage: ``_row_id`` =
        the file's ``baseRowId`` + the row's PHYSICAL index (fresh row
        ids per the spec — DV soft-deletes leave survivors' ids stable
        because the physical index is captured before the anti-join),
        and ``_row_commit_version`` = ``defaultRowCommitVersion``.

        Scale shape: the per-file (path, baseRowId) map is |files| rows
        and broadcasts; the data never shuffles."""
        snap = log_replay.Snapshot(self.table_path)
        base = read_files(self.spark, snap, as_of=as_of, keep_lineage=True)
        live = snap._reconciled(as_of)[0]
        latest = self._local(
            [
                {
                    "_rel_path": p,
                    "_base_row_id": a.get("baseRowId"),
                    "_row_commit_version": a.get("defaultRowCommitVersion"),
                }
                for p, a in sorted(live.items())
            ],
            _ROW_LINEAGE_SCHEMA,
        )
        return (
            base.join(F.broadcast(latest), "_rel_path", "left")
            .withColumn(
                "_row_id", F.col("_base_row_id") + F.col("_row_index")
            )
            .drop("_base_row_id")
        )

    # -- deletion vectors --------------------------------------------------

    def deletion_vector_paths(self, as_of: int | None = None) -> list[str]:
        return log_replay.Snapshot(self.table_path).deletion_vector_paths(as_of)

    def deletion_vectors(self, as_of: int | None = None) -> DataFrame | None:
        """(rel_path, row_index) of every soft-deleted row, or None when
        the table has no deletion vectors. Sidecars are tiny relative to
        the data (|deleted rows| x 2 columns)."""
        return read_deletion_vectors(
            self.spark,
            self.table_path,
            log_replay.Snapshot(self.table_path).deletion_vector_paths(as_of),
        )

    def commit_timestamps(self) -> list[tuple[int, int]]:
        """(version, adjusted_ts_millis) over the RETAINED log for
        ``timestampAsOf`` resolution. Commits written by this engine
        carry a monotonic ``inCommitTimestamp`` (Delta ICT — stamped at
        commit time, the authority when present); for foreign pre-ICT
        logs the wall-clock ``commitInfo.timestamp`` is used with
        Delta's reader-side monotonicity adjustment: a commit stamped
        earlier than its predecessor (clock skew) reads as
        predecessor + 1 ms, so timestamp -> version is well-defined
        either way."""
        return log_replay.Snapshot(self.table_path).commit_timestamps()

    def version_at_timestamp(self, ts) -> int:
        """Latest version committed at or before ``ts`` (epoch millis,
        digit string, ISO date/datetime string, or datetime) — Delta's
        ``timestampAsOf`` (``Snapshot.version_at_or_before``). Bounded by
        the retained log window after ``cleanup_log``, like Delta's
        retention-bounded timestamp travel."""
        return log_replay.Snapshot(self.table_path).version_at_or_before(ts)

    def snapshot_at_timestamp(self, ts) -> DataFrame:
        """``timestampAsOf`` read: resolve the version, then time-travel
        (both on one snapshot)."""
        snap = log_replay.Snapshot(self.table_path)
        return read_files(self.spark, snap, as_of=snap.version_at_or_before(ts))

    def snapshot(self, as_of: int | None = None) -> DataFrame:
        """The table's data as a DataFrame — reads ONLY the live files.
        ``as_of`` time-travels to the state after that committed version;
        superseded files stay readable until ``vacuum`` physically
        deletes them, so travel depth = vacuum retention, exactly like
        Delta's ``versionAsOf``."""
        return read_files(
            self.spark, log_replay.Snapshot(self.table_path), as_of=as_of
        )

    def changes(
        self, from_version: int = 0, to_version: int | None = None
    ) -> DataFrame:
        """CDC-style change feed from the log alone: one row per file-level
        change in [from_version, to_version] — (version, ts, change_type
        add|remove, path, num_records, size), ordered by version, change
        type and path. File-granular like Delta's
        change-data-feed-without-CDF reads; a consumer incrementally
        processes exactly the files each commit touched instead of
        re-scanning the table."""
        snap = log_replay.Snapshot(self.table_path)
        snap.require_history_from(from_version)
        rows = []
        for v in snap.versions:
            if v < from_version or (to_version is not None and v > to_version):
                continue
            acts = log_replay.read_commit(self.table_path, v)
            ts = next(
                (a["commitInfo"].get("timestamp") for a in acts if a.get("commitInfo") is not None),
                None,
            )
            for a in acts:
                for kind, act in (("add", a.get("add")), ("remove", a.get("remove"))):
                    if act is not None:
                        rows.append({
                            "version": v, "ts_ms": ts, "change_type": kind,
                            "path": act.get("path"),
                            "num_records": log_replay._num_records(act.get("stats")) if kind == "add" else None,
                            "size": act.get("size") if kind == "add" else None,
                        })
        rows.sort(key=lambda r: (r["version"], r["change_type"], r["path"] or ""))
        return self._local(rows, _CHANGES_SCHEMA).select(
            "version", F.timestamp_millis("ts_ms").alias("ts"),
            "change_type", "path", "num_records", "size",
        )

    def pruned_files(self, column: str, lower, upper) -> DataFrame:
        """Data skipping: live files whose ``[minValues, maxValues]``
        interval for ``column`` intersects [lower, upper] — evaluated
        entirely on the log (one tiny filter over |files| rows). Files
        written before stats existed (no min/max) are conservatively
        kept. Z-order clustering narrows per-file intervals, which is
        exactly what makes this prune selective."""
        return self.pruned_files_multi([(column, lower, upper)])

    def pruned_files_multi(
        self,
        predicates: list[tuple],
        partition_filter: dict | None = None,
    ) -> DataFrame:
        """Conjunctive data skipping: live files passing EVERY
        ``(column, lower, upper)`` interval test AND the optional
        partition filter (``{col: value-or-list}`` on the logged
        partitionValues — pure partition pruning, no stats needed).
        Per-column missing stats are conservatively kept; the whole
        evaluation is one filter over |files| rows, never a data read —
        at 100 TB this is the difference between planning from GBs of
        log and listing/reading the table."""
        return self._pruned(
            log_replay.Snapshot(self.table_path), predicates, partition_filter
        )

    def _pruned(
        self, snap: log_replay.Snapshot, predicates: list[tuple],
        partition_filter: dict | None = None,
    ) -> DataFrame:
        keep = F.lit(True)
        mapping = self.column_mapping(snap.metadata().get("schema"))
        for column, lower, upper in predicates:
            # stats keys carry PHYSICAL column names (footer-derived)
            phys = mapping.get(column, column)
            lo_s = F.get_json_object(F.col("stats"), f"$.minValues.{phys}")
            hi_s = F.get_json_object(F.col("stats"), f"$.maxValues.{phys}")
            numeric = isinstance(lower, (int, float))
            lo = lo_s.cast("double") if numeric else lo_s
            hi = hi_s.cast("double") if numeric else hi_s
            keep = keep & (
                lo_s.isNull()
                | hi_s.isNull()
                | ((hi >= F.lit(lower)) & (lo <= F.lit(upper)))
            )
        for col, want in (partition_filter or {}).items():
            vals = [str(v) for v in (want if isinstance(want, (list, tuple, set)) else [want])]
            keep = keep & F.col("partitionValues")[col].isin(vals)
        return self._live_adds(snap).where(keep).select("path")

    def _live_adds(self, snap: log_replay.Snapshot) -> DataFrame:
        """(path, stats, partitionValues) for every live file of ``snap``
        — the replay's live set, shared by every log-level skipping path
        so the liveness semantics cannot diverge between them."""
        return self._local(
            [
                {"path": a["path"], "stats": a.get("stats"), "partitionValues": a.get("partitionValues")}
                for a in snap._live_adds()
            ],
            _LIVE_ADDS_SCHEMA,
        )

    def live_file_intervals(
        self, column: str, partition_filter: dict | None = None
    ) -> DataFrame:
        """(path, lo, hi) for every live file — the per-file stats
        interval of ``column`` (nulls when the file carries no stats,
        which callers must treat as matching everything); numeric
        columns compare as doubles, string columns lexicographically
        (truncated max bounds are adjusted UP at write time, so the
        interval stays covering). The DISTRIBUTED form of data
        skipping: when the probe keys are too many to enumerate
        driver-side (a clip's thousands of fingerprint hashes, not
        three query terms), callers broadcast these |files| rows and
        range-join them against the key set — file pruning stays a
        metadata operation either way."""
        snap = log_replay.Snapshot(self.table_path)
        schema = snap.metadata().get("schema")
        mapping = self.column_mapping(schema)
        phys = mapping.get(column, column)
        col_type = next(
            (
                f.get("type")
                for f in (schema or {}).get("fields", [])
                if f.get("name") == column
            ),
            None,
        )
        # typed interval compare, or a LOUD refusal: a decimal compared
        # lexicographically or a >2^53 long squeezed into a double would
        # silently SKIP files that contain the key — wrong results, not
        # an error — so only types with a faithful comparison are served
        if col_type in ("byte", "short", "integer", "long"):
            cast_to = "long"
        elif col_type in ("float", "double"):
            cast_to = "double"
        elif col_type == "string":
            cast_to = None  # string stats compare lexicographically
        else:
            raise ValueError(
                f"live_file_intervals: column {column!r} has type "
                f"{col_type!r}; interval pruning supports integer, "
                "float, and string keys only"
            )
        lo = F.get_json_object(F.col("stats"), f"$.minValues.{phys}")
        hi = F.get_json_object(F.col("stats"), f"$.maxValues.{phys}")
        if cast_to is not None:
            lo, hi = lo.cast(cast_to), hi.cast(cast_to)
        live = self._live_adds(snap)
        for col, want in (partition_filter or {}).items():
            vals = [
                str(v)
                for v in (
                    want
                    if isinstance(want, (list, tuple, set))
                    else [want]
                )
            ]
            live = live.where(F.col("partitionValues")[col].isin(vals))
        return live.select("path", lo.alias("lo"), hi.alias("hi"))

    def pruned_files_for_keys(
        self,
        keys: DataFrame,
        column: str,
        partition_filter: dict | None = None,
    ) -> list:
        """Live files whose ``column`` stats interval contains at least
        one value of ``keys`` (a single-column DataFrame) — the
        disjunctive, key-SET form of data skipping, evaluated as a
        broadcast range join (|files| broadcast side, keys stay
        distributed). Only the touched PATHS reach the driver, bounded
        by |files|."""
        intervals = self.live_file_intervals(column, partition_filter)
        key_col = F.col(keys.columns[0])
        hit = (
            F.col("lo").isNull()
            | F.col("hi").isNull()
            | ((key_col >= F.col("lo")) & (key_col <= F.col("hi")))
        )
        rows = (
            keys.distinct()
            .join(F.broadcast(intervals), hit)
            .select("path")
            .distinct()
            .collect()
        )
        return sorted(r.path for r in rows)

    def scan(self, column: str, lower, upper) -> DataFrame:
        """Snapshot restricted by data skipping on ``column`` — reads only
        files whose stats interval intersects [lower, upper]. The caller
        still applies the row-level filter; this prunes at FILE
        granularity, like Delta's stats-based skipping."""
        snap = log_replay.Snapshot(self.table_path)
        keep = [r.path for r in self._pruned(snap, [(column, lower, upper)]).collect()]
        return read_files(self.spark, snap, keep)

    # -- log-only aggregates (no data scan) --------------------------------

    def record_count(self) -> int:
        """Sum of add-file stats.numRecords minus soft-deleted positions
        in still-live files, from the log replay; falls back to a scan
        only if any live file lacks stats."""
        snap = log_replay.Snapshot(self.table_path)
        counts = snap.record_counts()
        if counts is None:
            return read_files(self.spark, snap).count()
        return sum(counts.values())

    def file_stats(self) -> dict:
        """data_file_count, table_size_bytes, avg_file_size_bytes over
        the live file list."""
        return _file_stats(log_replay.Snapshot(self.table_path))

    def operation_counts(self) -> dict:
        """{'WRITE': n, 'DELETE': n, 'OPTIMIZE': n, 'MERGE': n} from
        commitInfo history."""
        return dict(Counter(
            ci["operation"]
            for ci in log_replay.Snapshot(self.table_path).commit_infos().values()
            if ci.get("operation")
        ))


def _version_checksum(snap: log_replay.Snapshot) -> dict | None:
    """``DeltaLog.version_checksum`` of the version ``snap`` holds."""
    p = os.path.join(snap.table_path, LOG_DIR, f"{snap.version():020d}.crc")
    try:
        with open(p) as f:
            c = json.loads(f.read())
        if int(c.get("version", -1)) != snap.version():
            return None
        return {
            "tableSizeBytes": int(c["tableSizeBytes"]),
            "numFiles": int(c["numFiles"]),
        }
    except (FileNotFoundError, KeyError, ValueError, TypeError):
        # accelerator only: a malformed/foreign .crc (e.g. null
        # fields) must fall back to replay, never crash detail()
        return None


def _file_stats(snap: log_replay.Snapshot) -> dict:
    """``DeltaLog.file_stats`` over the live files of ``snap``."""
    adds = snap._live_adds()
    sizes = [a["size"] for a in adds if a.get("size") is not None]
    return {
        "data_file_count": len(adds),
        "table_size_bytes": sum(sizes),
        "avg_file_size_bytes": int(sum(sizes) / len(sizes)) if sizes else 0,
    }


# -- the one live-file scan ------------------------------------------------

# Reader features this engine actually implements; ``require_readable``
# refuses tables demanding anything else (Delta table-features protocol:
# better a clear refusal than a silently wrong read). timestampNtz only
# gates the TIMESTAMP_NTZ data type, which Spark 4 reads natively through
# the logged schema; vacuumProtocolCheck mandates that VACUUM consult the
# protocol before touching files — maintenance.vacuum() runs both gates.
SUPPORTED_READER_FEATURES = frozenset(
    {"deletionVectors", "columnMapping", "v2Checkpoint",
     "timestampNtz", "vacuumProtocolCheck",
     # VARIANT data type: Spark 4 reads the shredded parquet
     # encoding natively through the logged schema
     "variantType"}
)


def require_readable(snap: log_replay.Snapshot) -> None:
    """Protocol gate for reads (Delta spec), the mirror of
    ``delta_writer._require_writable``: refuse to read a table whose
    protocol at ``snap`` demands reader capabilities this engine lacks,
    instead of returning silently wrong data (e.g. unapplied deletion
    semantics of an unknown feature)."""
    p = snap.protocol()
    r = p["minReaderVersion"]
    if r > 3:
        raise ValueError(
            f"unsupported Delta protocol: minReaderVersion={r} "
            "(this reader supports up to 3)"
        )
    if r == 3:
        unsupported = set(p["readerFeatures"]) - SUPPORTED_READER_FEATURES
        if unsupported:
            raise ValueError(
                "unsupported Delta reader features: "
                f"{sorted(unsupported)} (supported: "
                f"{sorted(SUPPORTED_READER_FEATURES)})"
            )


def _file_path_expr():
    """Absolute path of the file behind each row, from
    ``_metadata.file_path``. The metadata column is a percent-encoded
    ``file:`` URI — a table path or partition value containing a
    character Spark encodes (space, ``#``, …) would never match the
    un-encoded log paths, silently turning the DV anti-join into a
    no-op. So: decode first (protecting ``+``, which is literal in a
    URI path but form-decoded by ``url_decode``), then normalize the
    scheme."""
    decoded = F.url_decode(
        F.regexp_replace(F.col("_metadata.file_path"), r"\+", "%2B")
    )
    return F.regexp_replace(decoded, r"^file:/+", "/")


def _with_lineage(df: DataFrame, table_path: str) -> DataFrame:
    """``df`` (a parquet scan of the table at ``table_path``) plus
    ``_rel_path`` (the log-relative path of the row's file) and
    ``_row_index`` — ``_metadata`` is only resolvable directly on the
    scan."""
    root = os.path.abspath(table_path) + "/"
    rel = F.replace(_file_path_expr(), F.lit(root), F.lit(""))
    return df.withColumn("_rel_path", rel).withColumn(
        "_row_index", F.col("_metadata.row_index")
    )


def _drop_deleted(df: DataFrame, dv: DataFrame) -> DataFrame:
    """Anti-join the soft-deleted positions ``dv`` (rel_path,
    row_index) out of ``df``, which carries lineage columns. The dv
    side is tiny, so it broadcasts; the data never shuffles."""
    return df.join(
        F.broadcast(
            dv.select(
                F.col("rel_path").alias("_rel_path"),
                F.col("row_index").alias("_row_index"),
            )
        ),
        ["_rel_path", "_row_index"],
        "left_anti",
    )


def _to_logical(df: DataFrame, schema: dict) -> DataFrame:
    """``df`` with physical column names renamed to the logical ones of
    ``schema`` (column mapping); unchanged for never-renamed tables."""
    mapping = DeltaLog.column_mapping(schema)
    if mapping:
        df = df.withColumnsRenamed({p: l for l, p in mapping.items()})
    return df


def _read_with_logged_partitions(
    spark: SparkSession, table_path: str, live: list[dict],
    schema: dict | None, part_cols: list[str], keep_lineage: bool,
) -> DataFrame:
    """Read the live adds ``live`` by explicit path with partition
    columns taken from the LOG's partitionValues (the Delta-spec source
    of truth) — required when live files sit outside the table directory
    (shallow clones), where hive basePath inference cannot run. Columns
    stay in physical names. The per-file partition map is metadata-sized
    and broadcasts."""
    from delta_lake_health_spark.sources import delta_writer

    abs_of = lambda p: p if os.path.isabs(p) else os.path.join(table_path, p)  # noqa: E731
    reader = spark.read
    if schema is not None:
        data_fields = [
            f
            for f in DeltaLog.physical_schema(schema)["fields"]
            if f["name"] not in part_cols
        ]
        reader = reader.schema(
            StructType.fromJson({"type": "struct", "fields": data_fields})
        )
    df = reader.parquet(*[abs_of(a["path"]) for a in live])
    if keep_lineage:
        # captured on the scan: the partition-value join below hides
        # ``_metadata``
        df = _with_lineage(df, table_path)
    if not part_cols:
        return df
    rows = []
    for a in live:
        pv = delta_writer.logged_partition_values(
            a["path"], a.get("partitionValues") or {}
        )
        rows.append(tuple([abs_of(a["path"])] + [pv.get(c) for c in part_cols]))
    pv_schema = StructType(
        [StructField("_abs_path", StringType())]
        + [StructField(f"_pv_{c}", StringType()) for c in part_cols]
    )
    df = (
        df.withColumn("_abs_path", _file_path_expr())
        .join(F.broadcast(spark.createDataFrame(rows, pv_schema)), "_abs_path")
        .drop("_abs_path")
    )
    field_by_name = {f["name"]: f for f in (schema or {}).get("fields", [])}
    for c in part_cols:
        if c in field_by_name:
            dtype = StructField.fromJson(field_by_name[c]).dataType
            df = df.withColumn(c, F.col(f"_pv_{c}").cast(dtype))
        else:
            df = df.withColumn(c, F.col(f"_pv_{c}"))
        df = df.drop(f"_pv_{c}")
    return df


def read_files(
    spark: SparkSession,
    snap: log_replay.Snapshot,
    rel_paths: list[str] | None = None,
    *,
    as_of: int | None = None,
    keep_lineage: bool = False,
) -> DataFrame:
    """The one live-file scan: the live files of ``snap`` at ``as_of``
    (only those of ``rel_paths`` when given — a plan-time file list)
    with deletion vectors applied, in logical names and logged schema
    order, plus ``_rel_path`` / ``_row_index`` when ``keep_lineage``.
    The reader gate, schema, partition columns, live set and vectors
    all come from ``snap``. File rewrites read through here: raw
    parquet would resurrect soft-deleted rows.

    Files are read under the LOGGED schema in PHYSICAL column names
    (files always carry physical names; RENAME COLUMN is
    metadata-only): after schema evolution, files written before a
    column existed surface it as null instead of the reader picking
    whichever file schema it samples first. A table whose files all sit
    under it recovers hive partition columns through the ``basePath``
    option; a shallow clone's files sit OUTSIDE it, so its partition
    values come from the log.

    The live-file PATH LIST is held on the driver to feed the parquet
    reader — deliberate: it is bounded by |files| (metadata, not data;
    ~100 bytes/file, so even a million-file table is ~100 MB, the same
    order every Delta/Iceberg driver-side planner holds), and passing
    explicit paths is what lets the scan skip dead files without a
    data-side filter."""
    require_readable(snap)
    table_path = os.path.abspath(snap.table_path)
    meta = snap.metadata(as_of)
    schema = meta.get("schema")
    live = snap._live_adds(as_of)
    if rel_paths is not None:
        want = set(rel_paths)
        live = [a for a in live if a["path"] in want]
    lineage = ["_rel_path", "_row_index"] if keep_lineage else []
    if not live:
        if schema is None:
            raise ValueError("empty table with no schema")
        df = spark.createDataFrame([], StructType.fromJson(schema))
        if keep_lineage:
            df = df.withColumn("_rel_path", F.lit(None).cast("string")).withColumn(
                "_row_index", F.lit(None).cast("long")
            )
        return df
    dv = read_deletion_vectors(spark, table_path, snap.deletion_vector_paths(as_of))
    capture = keep_lineage or dv is not None
    if any(os.path.isabs(a["path"]) for a in live):
        df = _read_with_logged_partitions(
            spark, table_path, live, schema,
            meta.get("partition_columns", []), capture,
        )
    else:
        reader = spark.read.option("basePath", table_path)
        if schema is not None:
            reader = reader.schema(
                StructType.fromJson(DeltaLog.physical_schema(schema))
            )
        df = reader.parquet(*[os.path.join(table_path, a["path"]) for a in live])
        if capture:
            df = _with_lineage(df, table_path)
    if dv is not None:
        df = _drop_deleted(df, dv)
    if schema is None:
        return df if keep_lineage else df.drop("_rel_path", "_row_index")
    # the basePath reader appends hive partition columns at the end
    return _to_logical(df, schema).select(
        *[f["name"] for f in schema["fields"]], *lineage
    )
