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
``delta_log.read_files``.

One snapshot per feed: ``row_changes`` and ``table_changes`` list the
log once and take every fact from that ``log_replay.Snapshot``, so a
commit landing mid-call is wholly in the feed or wholly out; MV refresh
and CDC sync hand theirs to ``_row_changes`` / ``_table_changes``.

Reference parity: alvaromoureupm/delta-lake-health reads tables through
delta-rs, whose log gives the same add/remove/dataChange fields
(src/delta_lake_health/analyzer/delta_python_analyzer.py history use);
row-level resolution is this repo's extension.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StructType, VariantType

from delta_lake_health_spark.sources import log_replay
from delta_lake_health_spark.sources.delta_log import (
    DeltaLog,
    _to_logical,
    _with_lineage,
    read_deletion_vectors,
    read_files,
)
from delta_lake_health_spark.sources.delta_writer import schema_has

CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"
# copy-on-write operations whose rewritten survivors are netted out
NETTED_OPERATIONS = ("DELETE", "UPDATE")


def _read_raw(
    spark: SparkSession, snap: log_replay.Snapshot, rel_paths: list[str],
    as_of: int, with_pos: bool,
) -> DataFrame:
    """Read specific data files with NO deletion vectors applied, using
    the table schema as of ``as_of`` (files written before a later
    RENAME/DROP must be decoded with their contemporaneous mapping).
    ``with_pos`` captures (_rel_path, _row_index) on the scan — the only
    place ``_metadata`` is resolvable."""
    root = os.path.abspath(snap.table_path)
    schema = snap.metadata(as_of).get("schema")
    reader = spark.read.option("basePath", root)
    if schema is not None:
        reader = reader.schema(StructType.fromJson(DeltaLog.physical_schema(schema)))
    df = reader.parquet(*[os.path.join(root, p) for p in rel_paths])
    if with_pos:
        df = _with_lineage(df, root)
    if schema is not None:
        df = _to_logical(df, schema)
    return df


def _positions(dv: DataFrame) -> DataFrame:
    """Sidecar rows as broadcast (_rel_path, _row_index) join keys."""
    return F.broadcast(dv.select(
        F.col("rel_path").alias("_rel_path"), F.col("row_index").alias("_row_index")
    ))


def _tag(df: DataFrame, change: str, version: int) -> DataFrame:
    return df.withColumn(CHANGE_TYPE, F.lit(change)).withColumn(
        COMMIT_VERSION, F.lit(version).cast("long")
    )


def changed_actions(
    snap: log_replay.Snapshot, from_version: int, to_version: int
) -> list[dict]:
    """Per-version data-changing action lists in [from, to] of ``snap``'s
    retained commits, driver-side:
    ``[{"version", "operation", "adds", "removes", "dvs", "cdcs"}, ...]``
    (paths only; ``operation`` from the commitInfo, None without one)."""
    snap.require_history_from(from_version)
    out = []
    for v in snap.versions:
        if not from_version <= v <= to_version:
            continue
        slot = {"version": v, "operation": None, "adds": [], "removes": [],
                "dvs": [], "cdcs": []}
        for a in log_replay.read_commit(snap.table_path, v):
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
) -> DataFrame:
    """The row-level change feed for commits in [from_version,
    to_version] (defaults to the full log). Columns = current logical
    table columns (files from older schemas are null-filled for columns
    they predate) + ``_change_type`` + ``_commit_version``."""
    snap = log_replay.table_snapshot(table_path)
    return _row_changes(spark, snap, from_version, to_version)


def _row_changes(
    spark: SparkSession,
    snap: log_replay.Snapshot,
    from_version: int,
    to_version: int | None,
) -> DataFrame:
    """``row_changes`` over the snapshot ``snap``."""
    snap.require_history_from(from_version)
    root = os.path.abspath(snap.table_path)
    if to_version is None:
        to_version = snap.version()
    out_cols = None
    schema = snap.metadata(as_of=to_version).get("schema")
    if schema is not None:
        out_cols = [f["name"] for f in schema["fields"]]

    # one walk over the retained commits up to ``to_version``: the feed's
    # slots, and the sidecars committed before each version (the
    # DV-delete semantics)
    walk = changed_actions(snap, snap.earliest_version(), to_version)
    dv_before = [(s["version"], p) for s in walk for p in s["dvs"]]

    parts: list[DataFrame] = []
    for slot in walk:
        v = slot["version"]
        if v < from_version:
            continue
        if slot.get("cdcs"):
            # Delta spec: when a commit carries cdc actions, its change
            # data is EXACTLY those files (rows already tagged
            # update_preimage/update_postimage) — the add/remove
            # reconstruction below would double-report the rewrite
            cdc = spark.read.parquet(*[os.path.join(root, p) for p in slot["cdcs"]])
            parts.append(
                cdc.withColumn(COMMIT_VERSION, F.lit(v).cast("long"))
            )
            continue
        inserts = deletes = None
        if slot["adds"]:
            inserts = _read_raw(spark, snap, slot["adds"], v, False)
        if slot["removes"]:
            # correctness of the prior-DV exclusion below needs the FULL
            # dv history; after log cleanup it can't be proven complete
            snap.require_history_from(0)
            df = _read_raw(spark, snap, slot["removes"], v, True)
            prior = read_deletion_vectors(
                spark, snap.table_path, [p for dvv, p in dv_before if dvv < v]
            )
            if prior is not None:
                df = df.join(_positions(prior), ["_rel_path", "_row_index"], "left_anti")
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
            pos = read_deletion_vectors(spark, snap.table_path, slot["dvs"])
            touched = sorted({r.rel_path for r in pos.select("rel_path").distinct().collect()})
            df = _read_raw(spark, snap, touched, v, True).join(
                _positions(pos), ["_rel_path", "_row_index"], "left_semi"
            )
            parts.append(_tag(df.drop("_rel_path", "_row_index"), "delete", v))

    if not parts:
        base = read_files(spark, snap).limit(0)
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
    never disagree). The timestamps join as one |versions|-entry map
    literal, so the veneer adds no Spark job to the feed.

    ``starting_timestamp`` / ``ending_timestamp`` (anything
    ``log_replay.to_millis`` accepts — the coercion of ``timestampAsOf``)
    pick the version range from the SAME adjusted series — starting =
    the earliest retained commit at/after the timestamp
    (``Snapshot.version_at_or_after``), ending = the latest at/before it
    (``Snapshot.version_at_or_before``) — so the two addressing modes
    can never disagree. A ``starting_timestamp`` that predates the
    retained log window raises the same retention error version
    addressing does: silently returning a feed missing the expired
    commits' changes would corrupt an incremental consumer."""
    snap = log_replay.table_snapshot(table_path)
    if starting_timestamp is not None or ending_timestamp is not None:
        if ending_version is not None or starting_version != 0:
            raise ValueError(
                "table_changes: address by versions OR timestamps, not both"
            )
        series = snap.commit_timestamps()
        if not series:
            raise ValueError(
                "table_changes: the retained log has no resolvable "
                "commit timestamps"
            )
        if ending_timestamp is not None:
            ending_version = snap.version_at_or_before(ending_timestamp)
        if starting_timestamp is not None:
            tgt = log_replay.to_millis(starting_timestamp)
            if tgt < series[0][1] and snap.earliest_version() > 0:
                # expired commits all read strictly below the earliest
                # retained timestamp, so a start below it cannot prove
                # the feed complete — same bound as require_history_from
                raise ValueError(
                    f"log history before version {snap.earliest_version()} "
                    f"has been cleaned up; starting_timestamp {tgt} "
                    "predates the retained window"
                )
            starting_version = snap.version_at_or_after(tgt)
    return _table_changes(spark, snap, starting_version, ending_version)


def _table_changes(
    spark: SparkSession,
    snap: log_replay.Snapshot,
    from_version: int,
    to_version: int | None,
) -> DataFrame:
    """``table_changes`` by versions over the snapshot ``snap``. The
    commit timestamps come as one map literal keyed by version: joining
    a local relation instead would run a Spark job to broadcast it."""
    series = snap.commit_timestamps()
    stamps = F.map_from_arrays(
        F.lit(np.array([v for v, _ in series], dtype=np.int64)),
        F.lit(np.array([t for _, t in series], dtype=np.int64)),
    )
    changes = _row_changes(spark, snap, from_version, to_version)
    return changes.select(
        COMMIT_VERSION,
        *[c for c in changes.columns if c != COMMIT_VERSION],
        F.timestamp_millis(stamps[F.col(COMMIT_VERSION)]).alias("_commit_timestamp"),
    )
