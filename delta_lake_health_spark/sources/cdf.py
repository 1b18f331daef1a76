"""Row-level change data feed reconstructed from the Delta log.

``DeltaLog.changes()`` is file-granular (one row per add/remove action);
this module resolves those actions down to ROWS — the feed an
incremental consumer (materialized-view maintenance, downstream sync,
streaming backfill) actually needs:

    (table columns..., _change_type insert|delete, _commit_version)

Semantics per commit, mirroring what Delta computes when the table has
no ``_change_data`` folder ("CDF without CDF"):

- ``add`` actions with ``dataChange = true``  -> ``insert`` rows
  (the file is read raw: a deletion vector attached at a LATER version
  is a later ``delete`` event, so it must not be applied here),
- ``remove`` actions with ``dataChange = true`` -> ``delete`` rows,
  minus positions already soft-deleted by sidecars committed BEFORE the
  remove (those rows were never live at removal time),
- ``dv`` actions -> ``delete`` rows for exactly the sidecar's new
  positions (each sidecar carries only the positions newly deleted at
  its commit, see ``delta_writer.delete_with_dv``).

A copy-on-write DELETE or UPDATE rewrites whole files, so most rows of
its removed files come back unchanged in its added files. Those pairs
are netted within the commit (multiset ``EXCEPT ALL`` both ways): the
feed reports the rows the commit deleted, and an UPDATE's changed rows
as delete+insert pairs. MERGE rewrites surface as whole-file
delete+insert pairs — the same granularity Delta reports for merges
without CDF enabled.
Compaction / z-order / checkpointing emit ``dataChange = false`` actions
and produce no rows here, which is what makes the feed safe to drive
incremental aggregates: maintenance never perturbs them.

Work per call is proportional to the files each commit touched, never to
table size — the property that makes incremental maintenance win at
100 TB (a 0.1% daily delta reads 0.1% of the data). The per-version
action lists are collected to the driver to plan the reads; that is
metadata bounded by |actions in range|, the same deliberate pattern as
``DeltaLog.snapshot``.

Reference parity: alvaromoureupm/delta-lake-health reads tables through
delta-rs, whose log gives the same add/remove/dataChange fields
(src/delta_lake_health/analyzer/delta_python_analyzer.py history use);
row-level resolution is this repo's extension.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StructType, VariantType

from delta_lake_health_spark.sources import log_replay
from delta_lake_health_spark.sources.delta_log import (
    DeltaLog,
    _to_logical,
    _with_lineage,
    read_deletion_vectors,
)
from delta_lake_health_spark.sources.delta_writer import schema_has

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"
# copy-on-write operations whose rewritten survivors are netted out
NETTED_OPERATIONS = ("DELETE", "UPDATE")


def _read_raw(
    log: DeltaLog, rel_paths: list[str], as_of: int, with_pos: bool
) -> DataFrame:
    """Read specific data files with NO deletion vectors applied, using
    the table schema as of ``as_of`` (files written before a later
    RENAME/DROP must be decoded with their contemporaneous mapping).
    ``with_pos`` captures (_rel_path, _row_index) on the scan — the only
    place ``_metadata`` is resolvable."""
    schema = log.metadata(as_of=as_of).get("schema")
    reader = log.spark.read.option("basePath", log.table_path)
    if schema is not None:
        reader = reader.schema(StructType.fromJson(log.physical_schema(schema)))
    df = reader.parquet(*[os.path.join(log.table_path, p) for p in rel_paths])
    if with_pos:
        df = _with_lineage(df, log.table_path)
    if schema is not None:
        df = _to_logical(df, schema)
    return df


def _tag(df: DataFrame, change: str, version: int) -> DataFrame:
    return df.withColumn(CHANGE_TYPE, F.lit(change)).withColumn(
        COMMIT_VERSION, F.lit(version).cast("long")
    )


def changed_actions(
    log: DeltaLog, from_version: int, to_version: int
) -> list[dict]:
    """Per-version data-changing action lists in [from, to], driver-side:
    ``[{"version", "operation", "adds", "removes", "dvs", "cdcs"}, ...]``
    (paths only; ``operation`` from the commitInfo, None without one)."""
    log.require_history_from(from_version)
    out = []
    for v in log_replay.commit_versions(log.table_path):
        if not from_version <= v <= to_version:
            continue
        slot = {"version": v, "operation": None, "adds": [], "removes": [],
                "dvs": [], "cdcs": []}
        for a in log_replay.read_commit(log.table_path, v):
            if a.get("commitInfo") is not None:
                slot["operation"] = a["commitInfo"].get("operation")
            if (a.get("add") or {}).get("dataChange"):
                slot["adds"].append(a["add"]["path"])
            if (a.get("remove") or {}).get("dataChange"):
                slot["removes"].append(a["remove"]["path"])
            if a.get("dv") is not None:
                slot["dvs"].append(a["dv"]["path"])
            if a.get("cdc") is not None:
                slot["cdcs"].append(a["cdc"]["path"])
        out.append(slot)
    return out


def row_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int = 0,
    to_version: int | None = None,
    log: "DeltaLog | None" = None,
) -> DataFrame:
    """The row-level change feed for commits in [from_version,
    to_version] (defaults to the full log). Columns = current logical
    table columns (files from older schemas are null-filled for columns
    they predate) + ``_change_type`` + ``_commit_version``. Callers that
    already hold a DeltaLog may pass it through ``log``."""
    log = log or DeltaLog(spark, table_path)
    if to_version is None:
        to_version = log.version()
    out_cols = None
    schema = log.metadata(as_of=to_version).get("schema")
    if schema is not None:
        out_cols = [f["name"] for f in schema["fields"]]

    # sidecars committed before each version, per the DV-delete semantics
    dv_before: list[tuple[int, str]] = [
        (v, a["dv"]["path"])
        for v in log_replay.commit_versions(log.table_path)
        if v < to_version
        for a in log_replay.read_commit(log.table_path, v)
        if a.get("dv") is not None
    ]

    parts: list[DataFrame] = []
    for slot in changed_actions(log, from_version, to_version):
        v = slot["version"]
        if slot.get("cdcs"):
            # Delta spec: when a commit carries cdc actions, its change
            # data is EXACTLY those files (rows already tagged
            # update_preimage/update_postimage) — the add/remove
            # reconstruction below would double-report the rewrite
            cdc = spark.read.parquet(
                *[os.path.join(log.table_path, p) for p in slot["cdcs"]]
            )
            parts.append(
                cdc.withColumn(COMMIT_VERSION, F.lit(v).cast("long"))
            )
            continue
        inserts = deletes = None
        if slot["adds"]:
            inserts = _read_raw(log, slot["adds"], v, False)
        if slot["removes"]:
            # correctness of the prior-DV exclusion below needs the FULL
            # dv history; after log cleanup it can't be proven complete
            log.require_history_from(0)
            df = _read_raw(log, slot["removes"], v, True)
            prior = read_deletion_vectors(
                spark, log.table_path, [p for dvv, p in dv_before if dvv < v]
            )
            if prior is not None:
                df = df.join(
                    F.broadcast(
                        prior.select(
                            F.col("rel_path").alias("_rel_path"),
                            F.col("row_index").alias("_row_index"),
                        )
                    ),
                    ["_rel_path", "_row_index"],
                    "left_anti",
                )
            deletes = df.drop("_rel_path", "_row_index")
        if (
            inserts is not None
            and deletes is not None
            and slot["operation"] in NETTED_OPERATIONS
            # Spark's set operations refuse to compare these types
            and not schema_has(inserts.schema, (MapType, VariantType))
        ):
            inserts, deletes = (
                inserts.exceptAll(deletes), deletes.exceptAll(inserts)
            )
        if inserts is not None:
            parts.append(_tag(inserts, "insert", v))
        if deletes is not None:
            parts.append(_tag(deletes, "delete", v))
        if slot["dvs"]:
            pos = read_deletion_vectors(spark, log.table_path, slot["dvs"])
            touched = sorted({r.rel_path for r in pos.select("rel_path").distinct().collect()})
            df = _read_raw(log, touched, v, True).join(
                F.broadcast(
                    pos.select(
                        F.col("rel_path").alias("_rel_path"),
                        F.col("row_index").alias("_row_index"),
                    )
                ),
                ["_rel_path", "_row_index"],
                "left_semi",
            )
            parts.append(_tag(df.drop("_rel_path", "_row_index"), "delete", v))

    if not parts:
        base = log.snapshot().limit(0)
        return _tag(base, "insert", to_version).limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    if out_cols is not None:
        out = out.select(*out_cols, CHANGE_TYPE, COMMIT_VERSION)
    return out


def table_changes(
    spark: SparkSession,
    table_path: str,
    starting_version: int = 0,
    ending_version: int | None = None,
    starting_timestamp=None,
    ending_timestamp=None,
) -> DataFrame:
    """Spark SQL's ``table_changes()`` surface over the log-derived
    change feed: ``row_changes`` columns plus ``_commit_timestamp``
    (resolved through the same ICT-preferring, monotonic-adjusted
    series as ``timestampAsOf``, so feed timestamps and time travel can
    never disagree). The timestamp map is |versions| rows, broadcast.

    ``starting_timestamp`` / ``ending_timestamp`` (epoch ms, ISO string,
    or datetime — the same coercion as ``timestampAsOf``) pick the
    version range from the SAME adjusted series — starting = the
    earliest retained commit at/after the timestamp, ending = the
    latest at/before it — so the two addressing modes can never
    disagree. A ``starting_timestamp`` that predates the retained log
    window raises the same retention error version addressing does:
    silently returning a feed missing the expired commits' changes
    would corrupt an incremental consumer."""
    log = DeltaLog(spark, table_path)
    series = log.commit_timestamps()  # ONE collect, reused for the map
    if starting_timestamp is not None or ending_timestamp is not None:
        if ending_version is not None or starting_version != 0:
            raise ValueError(
                "table_changes: address by versions OR timestamps, not both"
            )
        if not series:
            raise ValueError(
                "table_changes: the retained log has no resolvable "
                "commit timestamps"
            )
        if ending_timestamp is not None:
            tgt = DeltaLog._to_millis(ending_timestamp)
            upto = [v for v, t in series if t <= tgt]
            if not upto:
                raise ValueError(
                    f"no retained commit at or before {tgt} (earliest "
                    f"retained commit timestamp: {series[0][1]})"
                )
            ending_version = upto[-1]
        if starting_timestamp is not None:
            tgt = DeltaLog._to_millis(starting_timestamp)
            if tgt < series[0][1] and log.earliest_version() > 0:
                # expired commits all read strictly below the earliest
                # retained timestamp, so a start below it cannot prove
                # the feed complete — same bound as require_history_from
                raise ValueError(
                    f"log history before version {log.earliest_version()} "
                    f"has been cleaned up; starting_timestamp {tgt} "
                    "predates the retained window"
                )
            after = [v for v, t in series if t >= tgt]
            starting_version = after[0] if after else series[-1][0] + 1
    if ending_version is None:
        ending_version = log.version()
    changes = row_changes(
        spark, table_path, starting_version, ending_version, log=log
    )
    ts = spark.createDataFrame(
        [(v, t) for v, t in series],
        "_commit_version long, _ts_millis long",
    ).select(
        "_commit_version",
        F.timestamp_millis(F.col("_ts_millis")).alias("_commit_timestamp"),
    )
    return changes.join(F.broadcast(ts), "_commit_version", "left")
