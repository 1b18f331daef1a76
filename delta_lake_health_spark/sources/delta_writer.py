"""Minimal Delta-protocol writer (reader v1 / writer v2, plus
position-delete deletion vectors via ``delete_with_dv``) — enough to
create, append to, delete from, and maintain real ``_delta_log`` tables
without any delta library, so the health analyzer and the maintenance
operators have genuine tables to act on.

The data path is pure Spark (``df.write.parquet`` — distributed, any
scale); only the commit step is driver-side, exactly like every Delta
writer: a commit is one small JSON file listing add/remove actions.

Log layout written here (subset of the Delta spec the reference's delta-rs
backend reads/writes — see PROTOCOL.md of delta-io/delta):

- ``_delta_log/{version:020d}.json`` — newline-delimited actions:
  ``protocol`` + ``metaData`` (v0), then ``add``/``remove`` + ``commitInfo``.
- add actions carry ``partitionValues``, ``size``, ``stats`` (JSON with
  ``numRecords``) so log-only record counts work with no data scan.

Reference parity: history/ops semantics consumed by
src/delta_lake_health/health_analyzers/delta_python_analyzer.py:167-188.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import VariantType

from delta_lake_health_spark.sources import delta_log, log_replay
from delta_lake_health_spark.sources.delta_log import DELETES_DIR
from delta_lake_health_spark.sources.log_replay import LOG_DIR


def current_version(table_path: str) -> int:
    """Highest committed version, or -1 for a fresh table."""
    return max(log_replay.commit_versions(table_path), default=-1)


def _list_parquet_rel(table_path: str) -> dict[str, int]:
    """{relative path: size} of every ``.parquet`` under the table root —
    the one listing of a table folder (writes diff it, the health report
    and full VACUUM compare it with the live set)."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(table_path):
        # hive convention: underscore-prefixed dirs are metadata, not data
        # (_delta_log, _deletes sidecars)
        dirnames[:] = [d for d in dirnames if not d.startswith("_")]
        for f in filenames:
            if f.endswith(".parquet"):
                fp = os.path.join(dirpath, f)
                out[os.path.relpath(fp, table_path)] = os.path.getsize(fp)
    return out


# Spark's hive partition-directory encoding (ExternalCatalogUtils): a null
# value is this marker, and these characters are written as %XX
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_HIVE_ESCAPED = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(1, 32)}


def _hive_unescape(x: str) -> str:
    return re.sub("%([0-9A-Fa-f]{2})", lambda m: chr(int(m[1], 16)), x)


def hive_value(segment_value: str) -> str | None:
    """The partition value a hive directory ``key=<segment_value>``
    encodes: ``%XX`` decoded, the default-partition marker as null."""
    if segment_value == HIVE_DEFAULT_PARTITION:
        return None
    return _hive_unescape(segment_value)


def logged_partition_values(path: str, values: dict) -> dict:
    """A live file's logged ``partitionValues`` as the table holds them.
    Older writers logged the escaped directory segment itself ("x%25y",
    "__HIVE_DEFAULT_PARTITION__"): a value equal to the file's own
    ``key=value`` segment, or the default-partition marker, is decoded
    the way the hive reader decodes the directory."""
    segs = dict(s.split("=", 1) for s in path.split("/")[:-1] if "=" in s)
    return {
        k: hive_value(v)
        if v is not None and v in (segs.get(k), HIVE_DEFAULT_PARTITION)
        else v
        for k, v in values.items()
    }


def _partition_values(rel_path: str) -> dict[str, str | None]:
    """The partitionValues of a file at ``rel_path``: its ``key=value``
    directory segments decoded by ``hive_value`` (the Delta spec's
    form)."""
    vals: dict[str, str | None] = {}
    for seg in rel_path.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            vals[_hive_unescape(k)] = hive_value(v)
    return vals


def _partition_dir(key: str, value: str | None) -> str:
    """The hive directory segment of one logged partition value — the
    inverse of ``_partition_values``."""

    def escape(x: str) -> str:
        return "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPED else ch for ch in x)

    return f"{escape(key)}={HIVE_DEFAULT_PARTITION if value is None else escape(value)}"


STATS_STRING_PREFIX = 32  # truncation length for string stats


def _truncate_min(s: str) -> str:
    """A truncated MIN stays a valid lower bound (any prefix of s <= s)."""
    return s[:STATS_STRING_PREFIX]


def _truncate_max(s: str) -> str | None:
    """A truncated MAX must be ADJUSTED UP to stay a valid upper bound:
    chop to the prefix, then increment the last character that has a
    successor (dropping everything after it). Returns None when no
    character can be incremented (all U+10FFFF) — the caller then drops
    the max stat entirely, which only makes skipping less selective,
    never wrong. This is the Delta/Iceberg string-stats truncation rule:
    unbounded raw strings (URLs, JSON blobs) would otherwise bloat every
    add action and the checkpoint with kilobytes of stats per column."""
    if len(s) <= STATS_STRING_PREFIX:
        return s
    prefix = s[:STATS_STRING_PREFIX]
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp == 0xD7FF:
            # skip the surrogate block D800-DFFF: lone surrogates are not
            # valid scalar values for non-Python stats consumers, and JVM
            # UTF-16 comparison order disagrees with code-point order there
            return prefix[:i] + chr(0xE000)
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def _column_minmax(md) -> tuple[dict, dict]:
    """Per-file min/max from the parquet footer's row-group statistics —
    no data read. Values must be JSON-encodable; bytes decode as UTF-8 or
    are skipped. Long string bounds are truncated (min: plain prefix;
    max: prefix adjusted up) so stats stay small at any payload size."""
    mins: dict = {}
    maxs: dict = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            lo, hi = st.min, st.max
            if hasattr(lo, "isoformat"):
                lo, hi = lo.isoformat(), hi.isoformat()
            try:
                if isinstance(lo, bytes):
                    lo = lo.decode("utf-8")
                if isinstance(hi, bytes):
                    hi = hi.decode("utf-8")
                json.dumps([lo, hi])
            except (UnicodeDecodeError, TypeError):
                continue
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    for name, lo in list(mins.items()):
        if isinstance(lo, str):
            mins[name] = _truncate_min(lo)
    for name, hi in list(maxs.items()):
        if isinstance(hi, str):
            adjusted = _truncate_max(hi)
            if adjusted is None:
                del maxs[name]
            else:
                maxs[name] = adjusted
    return mins, maxs


_DUCK_FOOTER_LOCAL = None


def _duckdb_footer_con():
    """Per-thread cached DuckDB connection for footer reads (connections
    are not safe for concurrent use; concurrent-writer tests run
    _add_action from multiple threads)."""
    global _DUCK_FOOTER_LOCAL
    import threading

    if _DUCK_FOOTER_LOCAL is None:
        _DUCK_FOOTER_LOCAL = threading.local()
    if getattr(_DUCK_FOOTER_LOCAL, "con", None) is None:
        import duckdb

        _DUCK_FOOTER_LOCAL.con = duckdb.connect()
    return _DUCK_FOOTER_LOCAL.con


def _duckdb_schema_types(con, fp: str) -> tuple[dict, set]:
    """(leaf_types, variant_groups) from ``parquet_schema``: full-path
    tuple → (physical, converted, logical) for every leaf, plus the path
    tuples of variant-encoded groups. DuckDB reports no logical type for
    VARIANT, so detection is structural — a group whose direct leaf
    children include ``metadata`` and ``value`` BYTE_ARRAYs (the spec's
    variant encoding; a false positive on a coincidental user struct
    only skips stats, never mis-prunes)."""
    rows = con.sql(
        "SELECT name, type, num_children, converted_type, logical_type"
        " FROM parquet_schema(?)",
        params=[fp],
    ).fetchall()
    leaf_types: dict = {}
    group_leaf_kids: dict = {}
    # preorder walk: each row is the next child of the deepest open group
    stack: list = []  # [path_tuple, remaining_children]
    it = iter(rows)
    root = next(it, None)
    if root is None:
        return {}, set()
    stack.append([(), int(root[2] or 0)])
    for name, phys, nchild, conv, logical in it:
        while stack and stack[-1][1] == 0:
            stack.pop()
        if not stack:
            break
        path = stack[-1][0] + (name,)
        stack[-1][1] -= 1
        if nchild and int(nchild) > 0:
            group_leaf_kids[path] = []
            stack.append([path, int(nchild)])
        else:
            leaf_types[path] = (phys, conv, logical)
            parent = path[:-1]
            if parent in group_leaf_kids:
                group_leaf_kids[parent].append((name, phys))
    variant_groups = {
        p
        for p, kids in group_leaf_kids.items()
        if {"metadata", "value"}
        <= {n for n, t in kids if t == "BYTE_ARRAY"}
    }
    return leaf_types, variant_groups


def _duckdb_footer_stats(fp: str) -> tuple[int, dict, dict]:
    """(num_rows, mins, maxs) from a parquet footer DuckDB can read but
    pyarrow cannot (VARIANT logical type). Same contract as the pyarrow
    path: typed bounds for INT/FLOAT/DOUBLE/BYTE_ARRAY, ISO-format
    strings for TIMESTAMP/DATE/INT96 (DuckDB renders those stats as
    formatted time strings, mapped back to the pyarrow ``isoformat``
    shape), dotted paths for plain nested struct leaves. Every leaf
    under a variant-encoded group is skipped (the spec's
    no-stats-for-variant rule)."""
    import datetime as _dt

    con = _duckdb_footer_con()
    num_rows = con.sql(
        "SELECT num_rows FROM parquet_file_metadata(?)", params=[fp]
    ).fetchone()[0]
    leaf_types, variant_groups = _duckdb_schema_types(con, fp)
    mins: dict = {}
    maxs: dict = {}
    rows = con.sql(
        "SELECT path_in_schema, type, stats_min_value, stats_max_value"
        " FROM parquet_metadata(?)",
        params=[fp],
    ).fetchall()
    for path, typ, lo, hi in rows:
        if lo is None or hi is None:
            continue
        ptuple = tuple(path.split(", "))
        if any(ptuple[:i] in variant_groups for i in range(1, len(ptuple))):
            continue
        _, conv, logical = leaf_types.get(ptuple, (typ, None, None))
        conv = conv or ""
        logical = logical or ""
        dotted = ".".join(ptuple)
        try:
            if (
                typ == "INT96"
                or conv.startswith("TIMESTAMP")
                or logical.startswith("TimestampType")
            ):
                lo = _dt.datetime.fromisoformat(lo).isoformat()
                hi = _dt.datetime.fromisoformat(hi).isoformat()
            elif conv == "DATE" or logical.startswith("DateType"):
                lo = _dt.date.fromisoformat(lo).isoformat()
                hi = _dt.date.fromisoformat(hi).isoformat()
            elif typ in ("INT32", "INT64"):
                lo, hi = int(lo), int(hi)
            elif typ in ("FLOAT", "DOUBLE"):
                lo, hi = float(lo), float(hi)
            elif typ == "BYTE_ARRAY" and not conv.startswith(
                ("DECIMAL", "INTERVAL")
            ):
                json.dumps([lo, hi])  # UTF-8/JSON-encodable guard
            else:
                continue
        except (ValueError, TypeError, UnicodeDecodeError):
            continue
        if dotted not in mins or lo < mins[dotted]:
            mins[dotted] = lo
        if dotted not in maxs or hi > maxs[dotted]:
            maxs[dotted] = hi
    for name, lo in list(mins.items()):
        if isinstance(lo, str):
            mins[name] = _truncate_min(lo)
    for name, hi in list(maxs.items()):
        if isinstance(hi, str):
            adjusted = _truncate_max(hi)
            if adjusted is None:
                del maxs[name]
            else:
                maxs[name] = adjusted
    return int(num_rows), mins, maxs


def _add_action(table_path: str, rel: str, data_change: bool = True) -> dict:
    """``data_change=False`` is for data-preserving rewrites (OPTIMIZE /
    z-order / DV purge): the Delta spec requires those adds to carry
    ``dataChange = false`` so change-feed consumers skip them."""
    import pyarrow.parquet as pq

    fp = os.path.join(table_path, rel)
    try:
        md = pq.ParquetFile(fp).metadata
        mins, maxs = _column_minmax(md)
        num_rows = md.num_rows
    except OSError:
        # Files carrying the parquet VARIANT logical type (Spark 4
        # shredded variant columns) predate this pyarrow's thrift
        # vocabulary. Recover the footer through DuckDB instead — a
        # metadata read, no data scan — including typed min/max for the
        # PLAIN top-level columns, so data skipping on a variant
        # table's ordinary columns keeps pruning. Variant leaves are
        # nested paths ("pv, value", ...) and are excluded, matching
        # the spec's no-stats-for-variant rule.
        num_rows, mins, maxs = _duckdb_footer_stats(fp)
    stats = {"numRecords": num_rows, "minValues": mins, "maxValues": maxs}
    return {
        "add": {
            "path": rel.replace(os.sep, "/"),
            "partitionValues": _partition_values(rel),
            "size": os.path.getsize(fp),
            "modificationTime": int(os.path.getmtime(fp) * 1000),
            "dataChange": data_change,
            "stats": json.dumps(stats),
        }
    }


# Writer features this engine actually maintains; the write gate refuses
# tables demanding anything else — a commit that ignores a writer feature
# it doesn't understand corrupts the table for conforming writers.
SUPPORTED_WRITER_FEATURES = frozenset(
    {
        "appendOnly", "invariants", "checkConstraints", "generatedColumns",
        "changeDataFeed", "columnMapping", "deletionVectors",
        "inCommitTimestamp", "v2Checkpoint", "rowTracking",
        "identityColumns",
        # interop features modern delta-spark writers stamp routinely:
        # domainMetadata (this engine writes/checkpoints domain metadata
        # for row tracking already — latest-per-domain reconciliation in
        # delta_log), timestampNtz (gates only the TIMESTAMP_NTZ type,
        # native in Spark 4), vacuumProtocolCheck (vacuum() consults
        # both protocol gates before touching files)
        "domainMetadata", "timestampNtz", "vacuumProtocolCheck",
        # liquid clustering: declared columns in the delta.clustering
        # domain, applied on ingest and by OPTIMIZE (set_cluster_columns)
        "clustering",
        # variantType: the VARIANT data type (Delta 4.x) — gated as a
        # reader+writer feature because the shredded parquet encoding is
        # unreadable to engines without variant support
        "variantType",
        # allowColumnDefaults: column DEFAULT values (writer feature —
        # inserts that omit the column get the default; readers see
        # plain data)
        "allowColumnDefaults",
    }
)
# Legacy minWriterVersion -> the features it implies (Delta spec table);
# used both for gating legacy protocols and for enumerating features when
# a table upgrades to the table-features protocol (3, 7).
_LEGACY_WRITER_FEATURES = {
    1: frozenset(),
    2: frozenset({"appendOnly", "invariants"}),
    3: frozenset({"appendOnly", "invariants", "checkConstraints"}),
    4: frozenset(
        {"appendOnly", "invariants", "checkConstraints", "changeDataFeed",
         "generatedColumns"}
    ),
    5: frozenset(
        {"appendOnly", "invariants", "checkConstraints", "changeDataFeed",
         "generatedColumns", "columnMapping"}
    ),
    6: frozenset(
        {"appendOnly", "invariants", "checkConstraints", "changeDataFeed",
         "generatedColumns", "columnMapping", "identityColumns"}
    ),
}
_LEGACY_READER_FEATURES = {1: frozenset(), 2: frozenset({"columnMapping"})}


def _refuse_append_only(snap: log_replay.Snapshot, op: str) -> None:
    """`delta.appendOnly=true` tables refuse data-removing operations
    (Delta's enforcement for the appendOnly writer feature): DELETE,
    DV-DELETE, UPDATE, file-removing MERGE, OVERWRITE, RESTORE. Pure
    maintenance rewrites (OPTIMIZE / z-order / DV purge, dataChange =
    false) stay allowed, as in Delta. Reads the configuration of the
    snapshot the operation commits against."""
    cfg = snap.metadata().get("configuration") or {}
    if str(cfg.get("delta.appendOnly", "")).lower() == "true":
        raise ValueError(
            f"{op} is not allowed on an append-only table "
            f"(delta.appendOnly=true): {snap.table_path}"
        )


def _require_writable(snap: log_replay.Snapshot) -> None:
    """Protocol gate for writes (Delta spec): refuse to commit to a
    table whose protocol demands writer capabilities this engine lacks —
    a commit that ignores an unknown writer feature (identity columns,
    row tracking, ...) corrupts the table for conforming writers. An
    empty log has the default protocol, which passes."""
    p = snap.protocol()
    w = p["minWriterVersion"]
    feats = (
        set(p["writerFeatures"])
        if w >= 7
        else set(_LEGACY_WRITER_FEATURES.get(w, {"__unknown__"}))
    )
    unsupported = feats - SUPPORTED_WRITER_FEATURES
    if w > 7 or unsupported:
        raise ValueError(
            f"unsupported Delta writer requirements: minWriterVersion={w}, "
            f"features={sorted(unsupported)} (supported: "
            f"{sorted(SUPPORTED_WRITER_FEATURES)})"
        )


def _protocol_upgrade_action(
    snap: log_replay.Snapshot, feature: str
) -> dict | None:
    """The protocol action that enables ``feature`` on the table at
    ``snap`` (the base snapshot the upgrading commit is checked
    against), or None when its protocol already allows it. Column mapping
    upgrades to the legacy (2, 5) pair; deletion vectors require the
    table-features protocol (3, 7), which must enumerate every feature
    the table already relies on (the spec's legacy-to-features
    migration)."""
    p = snap.protocol()
    r, w = p["minReaderVersion"], p["minWriterVersion"]
    if feature == "columnMapping":
        if (r, w) >= (2, 5) and (
            w < 7 or "columnMapping" in p["writerFeatures"]
        ):
            return None
        if w < 7:
            return {"protocol": {"minReaderVersion": max(r, 2),
                                 "minWriterVersion": max(w, 5)}}
        return {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(
                    set(p["readerFeatures"]) | {"columnMapping"}
                ),
                "writerFeatures": sorted(
                    set(p["writerFeatures"]) | {"columnMapping"}
                ),
            }
        }
    if feature in (
        "rowTracking",
        "identityColumns",
        "domainMetadata",
        "allowColumnDefaults",
    ):
        # writer-only table features (readers may ignore row ids;
        # identity values are plain data once written; domain metadata
        # is writer bookkeeping; default values are plain data once
        # materialized by the writer): the writer
        # protocol moves to table features (7) and enumerates, the
        # reader version is untouched. identityColumns is also legacy
        # minWriterVersion 6, but we always upgrade through features —
        # a (1,6) protocol would drag in every v6-implied feature.
        if w >= 7 and feature in p["writerFeatures"]:
            return None
        if feature == "identityColumns" and w == 6:
            return None  # legacy v6 already implies it
        writer_feats = (
            set(p["writerFeatures"]) if w >= 7
            else set(_LEGACY_WRITER_FEATURES.get(w, set()))
        )
        proto: dict = {
            "minReaderVersion": r,
            "minWriterVersion": 7,
            "writerFeatures": sorted(writer_feats | {feature}),
        }
        if r >= 3:
            proto["readerFeatures"] = sorted(set(p["readerFeatures"]))
        return {"protocol": proto}
    if feature == "clustering":
        # liquid clustering depends on domainMetadata (the declared
        # columns live in the delta.clustering domain) — enumerate both
        need = {"clustering", "domainMetadata"}
        if w >= 7 and need <= set(p["writerFeatures"]):
            return None
        writer_feats = (
            set(p["writerFeatures"]) if w >= 7
            else set(_LEGACY_WRITER_FEATURES.get(w, set()))
        )
        proto = {
            "minReaderVersion": r,
            "minWriterVersion": 7,
            "writerFeatures": sorted(writer_feats | need),
        }
        if r >= 3:
            proto["readerFeatures"] = sorted(set(p["readerFeatures"]))
        return {"protocol": proto}
    if feature in ("deletionVectors", "v2Checkpoint", "variantType"):
        # table-features-only capabilities — reader AND writer gated:
        # upgrade to (3, 7) and enumerate every feature the table
        # already relies on. "Already enabled" requires the feature on
        # BOTH sides: a foreign (3,7) table listing it only as a writer
        # feature would otherwise never get the reader-side gate, and
        # engines without the capability would read bytes they cannot
        # decode (ADVICE r10).
        if (
            w >= 7
            and r >= 3
            and feature in p["writerFeatures"]
            and feature in p["readerFeatures"]
        ):
            return None
        reader_feats = (
            set(p["readerFeatures"]) if r >= 3
            else set(_LEGACY_READER_FEATURES.get(r, set()))
        )
        writer_feats = (
            set(p["writerFeatures"]) if w >= 7
            else set(_LEGACY_WRITER_FEATURES.get(w, set()))
        )
        return {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": sorted(reader_feats | {feature}),
                "writerFeatures": sorted(writer_feats | {feature}),
            }
        }
    raise ValueError(f"unknown feature {feature!r}")


def _prev_in_commit_ts(table_path: str, version: int) -> int:
    """The predecessor commit's own timestamp (in-commit timestamp, else
    commitInfo.timestamp), -1 for version 0 or when it has none."""
    if version <= 0:
        return -1
    try:
        ts = log_replay.commit_timestamp(table_path, version - 1)
    except FileNotFoundError:
        return -1  # predecessor cleaned up: fall back to the clock
    return -1 if ts is None else ts


ROW_TRACKING_DOMAIN = "delta.rowTracking"
CLUSTERING_DOMAIN = "delta.clustering"


def clustering_columns(snap: log_replay.Snapshot) -> list[str]:
    """The declared liquid-clustering columns at ``snap`` (latest
    ``delta.clustering`` domainMetadata), [] when never declared or
    cleared. Driver-side — no Spark job, so the default lookup of
    ``write`` and of a bare ``zorder_cluster`` stays commit-cost; a
    table whose protocol never enabled the feature short-circuits
    without looking for the domain."""
    p = snap.protocol()
    if p["minWriterVersion"] < 7 or "clustering" not in p["writerFeatures"]:
        return []
    cfg = snap.domain_metadata(CLUSTERING_DOMAIN) or {}
    return list(cfg.get("clusteringColumns", []))


def set_cluster_columns(
    spark: SparkSession, table_path: str, cols: list[str]
) -> int:
    """ALTER TABLE ... CLUSTER BY (Delta liquid clustering, writer
    feature ``clustering``): records the declared columns in the
    ``delta.clustering`` domainMetadata. Every subsequent ``write`` that
    doesn't pass an explicit ``cluster_by`` range-partitions and sorts
    its batch by the declared columns (clustered ingest), and
    ``zorder_cluster(cluster_cols=None)`` re-clusters incrementally over
    them — the two halves of liquid clustering's contract. ``cols=[]``
    clears the declaration (CLUSTER BY NONE)."""
    snap = _base_snapshot(spark, table_path)
    meta = snap.metadata()
    names = {f["name"] for f in (meta.get("schema") or {}).get("fields", [])}
    for c in cols:
        if c not in names:
            raise ValueError(f"cluster column {c!r} not in table schema")
        if c in meta.get("partition_columns", []):
            raise ValueError(
                f"cluster column {c!r} is a partition column — clustering "
                "within a partition value is a no-op"
            )
    actions: list[dict] = []
    upgrade = _protocol_upgrade_action(snap, "clustering")
    if upgrade is not None:
        actions.append(upgrade)
    actions.append(
        {
            "domainMetadata": {
                "domain": CLUSTERING_DOMAIN,
                "configuration": json.dumps({"clusteringColumns": list(cols)}),
                "removed": False,
            }
        }
    )
    actions.append(
        _commit_info("CLUSTER BY", {"clusterBy": json.dumps(list(cols))}, {})
    )
    return commit_mutation(snap, actions)


PRESERVE_ROW_ID_FLAG = "__preserveRowId__"


def _assign_row_ids(
    snap: log_replay.Snapshot, version: int, actions: list[dict]
) -> None:
    """Row-tracking assignment (in ``commit_mutation``, once per attempt,
    so EVERY operator — write, delete, merge, update, compact, clone —
    gets ids, and a retried commit re-derives them from the then-current
    high-water mark instead of reusing stale ones): each add action gets
    ``baseRowId`` (fresh ids [base, base + numRecords - 1]) and
    ``defaultRowCommitVersion``; the commit carries the advanced
    ``delta.rowTracking`` domainMetadata. The gate reads the protocol of
    the base snapshot ``snap`` (a protocol change since raises before any
    retry); only a row-tracked table lists the log again, for the mark.

    A metadata-only re-add of an UNCHANGED file (stats backfill) marks
    itself with ``PRESERVE_ROW_ID_FLAG`` and keeps its carried-over
    baseRowId — reassigning would break the spec's id stability for
    rows that never moved. The flag is stripped before serialization."""
    adds = [a["add"] for a in actions if "add" in a]
    p = snap.protocol()
    if not adds or p["minWriterVersion"] < 7 or "rowTracking" not in p["writerFeatures"]:
        return
    cfg = log_replay.Snapshot(snap.table_path).domain_metadata(ROW_TRACKING_DOMAIN) or {}
    hwm = int(cfg.get("rowIdHighWaterMark", -1))
    assigned = False
    for add in adds:
        # the flag is READ, never popped: a retried commit re-enters
        # here with the same actions list and must still preserve —
        # serialization in _commit strips the private key
        if add.get(PRESERVE_ROW_ID_FLAG):
            continue
        n = int(json.loads(add.get("stats") or "{}").get("numRecords", 0))
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = version
        hwm += n
        assigned = True
    if not assigned:
        return  # nothing new assigned: leave the hwm domain untouched
    # replace any stale domainMetadata from a previous attempt
    actions[:] = [
        a for a in actions
        if a.get("domainMetadata", {}).get("domain") != ROW_TRACKING_DOMAIN
    ]
    actions.append(
        {
            "domainMetadata": {
                "domain": ROW_TRACKING_DOMAIN,
                "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
                "removed": False,
            }
        }
    )


def _commit(table_path: str, version: int, actions: list[dict]) -> None:
    # In-commit timestamps (Delta ICT): the commit's own monotonic
    # timestamp is the authority for timestampAsOf — max(wall clock,
    # predecessor + 1 ms), so clock skew between writers can never make
    # history non-monotonic at WRITE time (the reader-side adjustment in
    # DeltaLog.commit_timestamps remains as the fallback for foreign
    # pre-ICT logs). Stamped UNCONDITIONALLY: commit_mutation retries a
    # rebased commit with the SAME actions list, and reusing the first
    # attempt's stamp would write an ICT below the interleaved winner's.
    for a in actions:
        if "commitInfo" in a:
            a["commitInfo"]["inCommitTimestamp"] = max(
                int(time.time() * 1000), _prev_in_commit_ts(table_path, version) + 1
            )
    path = log_replay.commit_path(table_path, version)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp-{uuid.uuid4().hex}"

    def _serializable(a: dict) -> dict:
        # strip the in-memory preserve marker WITHOUT mutating the
        # caller's actions (commit retries must still see it)
        add = a.get("add")
        if add and PRESERVE_ROW_ID_FLAG in add:
            return {**a, "add": {k: v for k, v in add.items()
                                 if k != PRESERVE_ROW_ID_FLAG}}
        return a

    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(_serializable(a)) + "\n")
    # put-if-absent: link() refuses an existing name, so of two writers
    # racing for one version exactly one publishes it (rename() would let
    # the second silently replace the first one's actions). The log store
    # therefore needs hard links; a filesystem without them is refused
    # rather than committed to without the guarantee
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise RuntimeError(f"concurrent commit: version {version} exists") from None
    except OSError as ex:
        raise OSError(
            ex.errno,
            f"cannot publish {path}: the Delta log store needs put-if-absent "
            f"commits, made with hard links, which this filesystem refused "
            f"({ex.strerror})",
        ) from ex
    finally:
        os.remove(tmp)
    _write_version_checksum(table_path, version, actions)


def _write_version_checksum(
    table_path: str, version: int, actions: list[dict]
) -> None:
    """Delta's ``<version>.crc`` version checksum: tableSizeBytes and
    numFiles maintained INCREMENTALLY from the predecessor's checksum
    plus this commit's add/remove actions, so ``DESCRIBE DETAIL`` reads
    two numbers from one tiny file instead of replaying the log. The
    checksum is an accelerator, never an authority — if the predecessor
    checksum is missing (foreign log) or a removed file's size can't be
    resolved, no checksum is written and readers fall back to replay."""
    size, n = 0, 0
    if version > 0:
        prev = os.path.join(
            table_path, "_delta_log", f"{version - 1:020d}.crc"
        )
        try:
            with open(prev) as f:
                c = json.loads(f.read())
            size, n = int(c["tableSizeBytes"]), int(c["numFiles"])
        except (FileNotFoundError, KeyError, ValueError):
            return
    try:
        for a in actions:
            if "add" in a:
                size += int(a["add"]["size"])
                n += 1
            elif "remove" in a:
                rel = a["remove"]["path"]
                fp = rel if os.path.isabs(rel) else os.path.join(table_path, rel)
                size -= os.path.getsize(fp)
                n -= 1
    except (OSError, KeyError, TypeError, ValueError):
        return  # accelerator only: never let checksum math break a commit
    crc = {"tableSizeBytes": size, "numFiles": n, "version": version}
    out = os.path.join(table_path, "_delta_log", f"{version:020d}.crc")
    tmp_crc = out + f".tmp-{uuid.uuid4().hex}"
    with open(tmp_crc, "w") as f:
        f.write(json.dumps(crc))
    os.replace(tmp_crc, out)


def _commit_info(operation: str, parameters: dict, metrics: dict) -> dict:
    return {
        "commitInfo": {
            "timestamp": int(time.time() * 1000),
            "operation": operation,
            "operationParameters": {k: str(v) for k, v in parameters.items()},
            "operationMetrics": {k: str(v) for k, v in metrics.items()},
        }
    }


def _metadata_action(
    meta: dict,
    *,
    fields: list[dict] | None = None,
    partition_columns: list[str] | None = None,
    configuration: dict | None = None,
) -> dict:
    """The metaData action of every table-state change. ``meta`` is the
    ``Snapshot.metadata()`` the operation read — ``{}`` for a new table,
    which gets a fresh id. Each keyword replaces that part of it (the
    schema's ``fields``, the ``partition_columns``, the
    ``configuration``); the rest carries over, and the table id is
    stable for the table's lifetime."""
    if fields is None:
        fields = (meta.get("schema") or {}).get("fields", [])
    if partition_columns is None:
        partition_columns = meta.get("partition_columns") or []
    if configuration is None:
        configuration = meta.get("configuration") or {}
    return {
        "metaData": {
            "id": meta.get("id") or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": fields}),
            "partitionColumns": list(partition_columns),
            "configuration": dict(configuration),
            "createdTime": int(time.time() * 1000),
        }
    }


def _base_snapshot(spark: SparkSession, table_path: str) -> log_replay.Snapshot:
    """The log listing an operation reads — its metadata, protocol and
    scanned files — and commits against at ``.version()`` through
    ``commit_mutation``. The writer-protocol gate checks this snapshot's
    protocol, so every commit that lands after the checks is an
    interleaved commit the conflict check sees. Refuses a table with no
    log (``write`` alone creates one)."""
    snap = log_replay.table_snapshot(table_path)
    _require_writable(snap)
    return snap


def _norm_fields(schema: dict) -> list[dict]:
    """Schema shape for equality checks: (name, type, nullable) only —
    field METADATA (e.g. generation expressions) is table-level state
    that an incoming batch never carries, so it must not count as a
    schema difference."""
    return [
        {k: f.get(k) for k in ("name", "type", "nullable")}
        for f in schema.get("fields", [])
    ]


_WIDENING_CHAINS = (
    ["byte", "short", "integer", "long"],
    ["float", "double"],
)


def _widened_type(logged_t, incoming_t):
    """Delta type widening: if the incoming PRIMITIVE type is strictly
    wider than the logged one along an allowed chain (byte->short->int->
    long, float->double), the TABLE type widens — old files stay valid
    because the parquet reader upcasts them (Spark 4 widening reads).
    Returns the widened type name, or None when no widening applies."""
    if not isinstance(logged_t, str) or not isinstance(incoming_t, str):
        return None
    for chain in _WIDENING_CHAINS:
        if logged_t in chain and incoming_t in chain:
            if chain.index(incoming_t) > chain.index(logged_t):
                return incoming_t
    return None


def _merge_append_schema(df: DataFrame, logged: dict | None, merge_schema: bool):
    """For an append whose schema differs from the ``logged`` one: either
    raise (default) or — with ``merge_schema`` — align ``df`` to the
    merged schema (logged fields first, cast to their logged types or
    WIDENED to the incoming type per the Delta type-widening chains; new
    fields appended). Returns (df, schema_changed, merged schema)."""
    cur = json.loads(df.schema.json())
    if logged is None or _norm_fields(logged) == _norm_fields(cur):
        return df, False, None
    # a batch that is merely STRICTER on nullability (non-null values
    # into a nullable column) is always safe — not a schema change
    lf, cf = _norm_fields(logged), _norm_fields(cur)
    if [(f["name"], f["type"]) for f in lf] == [
        (f["name"], f["type"]) for f in cf
    ] and all(
        l.get("nullable") or not c.get("nullable")
        for l, c in zip(lf, cf)
    ):
        return df, False, None
    if not merge_schema:
        raise ValueError(
            "append schema differs from the table schema; pass "
            "merge_schema=True to evolve it"
        )
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    cur_types = {f["name"]: f["type"] for f in cur["fields"]}
    logged_fields = []
    for f in logged["fields"]:
        wide = _widened_type(f.get("type"), cur_types.get(f["name"]))
        logged_fields.append({**f, "type": wide} if wide else f)
    logged = {**logged, "fields": logged_fields}

    logged_names = {f["name"] for f in logged["fields"]}
    # evolution-added columns are ALWAYS nullable (Delta mergeSchema
    # semantics): files written before the column existed read it as null,
    # so recording the incoming batch's nullable=false would make the
    # widened table violate its own schema
    merged = {
        "type": "struct",
        "fields": logged["fields"]
        + [
            {**f, "nullable": True}
            for f in cur["fields"]
            if f["name"] not in logged_names
        ],
    }
    mtype = StructType.fromJson(merged)
    cols = [
        F.col(f.name).cast(f.dataType)
        if f.name in df.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in mtype.fields
    ]
    return df.select(*cols), True, merged


def set_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT (Delta CHECK constraints): records
    ``delta.constraints.<name> = <expr>`` in the table configuration (the
    Delta convention) via a re-emitted metaData action; every subsequent
    ``write``/``merge`` validates its batch against the expression and
    refuses the commit on violation. The EXISTING data is validated once
    here (one scan) so a constraint can't be added that the table already
    breaks — same as Delta. A row appended after that scan conflicts
    with the commit instead of slipping past the check."""
    from pyspark.sql import functions as F

    snap = _base_snapshot(spark, table_path)
    bad = delta_log.read_files(spark, snap).where(~F.expr(expr)).limit(1).count()
    if bad:
        raise ValueError(
            f"cannot add constraint {name!r}: existing rows violate ({expr})"
        )
    meta = snap.metadata()
    config = {**meta["configuration"], f"delta.constraints.{name}": expr}
    return commit_mutation(
        snap,
        [
            _metadata_action(meta, configuration=config),
            _commit_info("ADD CONSTRAINT", {"name": name, "expr": expr}, {}),
        ],
        read_files={a["path"] for a in snap._live_adds()},
    )


def set_table_property(
    spark: SparkSession, table_path: str, key: str, value: str
) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES (one key): re-emit metaData with
    the configuration entry added/updated — schema, id, partitioning all
    carry over. Properties with engine behavior attached:
    ``delta.autoOptimize.autoCompact`` (+ ``minNumFiles`` /
    ``smallFileSize``) trigger post-commit compaction in ``write``;
    ``delta.constraints.*`` should go through ``set_constraint`` (which
    validates existing data first)."""
    return set_table_properties(spark, table_path, {key: value})


def set_table_properties(
    spark: SparkSession, table_path: str, props: dict
) -> int:
    """SET TBLPROPERTIES for several keys in ONE commit — the form
    callers that stamp a coherent parameter SET (e.g. the audio
    fingerprint index's frame/hop/fanOut) must use, so no reader can
    ever observe a half-stamped configuration between commits."""
    snap = _base_snapshot(spark, table_path)
    meta = snap.metadata()
    stamped = {str(k): str(v) for k, v in props.items()}
    return commit_mutation(
        snap,
        [
            _metadata_action(
                meta, configuration={**meta["configuration"], **stamped}
            ),
            _commit_info("SET TBLPROPERTIES", stamped, {}),
        ],
    )


def _maybe_auto_compact(spark: SparkSession, table_path: str, meta) -> None:
    """Delta's autoCompact: when ``delta.autoOptimize.autoCompact`` is
    set on the table, a successful write checks the small-file
    population and, past ``minNumFiles``, runs a standard OPTIMIZE
    commit right behind its own — writers pay a bounded compaction
    instead of the table degrading until someone remembers to run
    maintenance. The compaction is the ordinary ``maintenance.compact``
    (dataChange=false adds, change-feed invisible)."""
    config = (meta or {}).get("configuration", {})
    if config.get("delta.autoOptimize.autoCompact", "").lower() != "true":
        return
    min_files = int(config.get("delta.autoOptimize.minNumFiles", "16"))
    small_size = int(
        config.get("delta.autoOptimize.smallFileSize", str(32 * 1024 * 1024))
    )
    from delta_lake_health_spark.operators import maintenance

    n_small = sum(
        1
        for a in log_replay.Snapshot(table_path)._live_adds()
        if a.get("size") is not None and a["size"] < small_size
    )
    if n_small >= min_files:
        maintenance.compact(
            spark, table_path, small_file_size=small_size
        )


def drop_constraint(spark: SparkSession, table_path: str, name: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT."""
    snap = _base_snapshot(spark, table_path)
    meta = snap.metadata()
    config = dict(meta["configuration"])
    config.pop(f"delta.constraints.{name}", None)
    return commit_mutation(
        snap,
        [
            _metadata_action(meta, configuration=config),
            _commit_info("DROP CONSTRAINT", {"name": name}, {}),
        ],
    )


def _to_physical(df: DataFrame, meta: dict) -> DataFrame:
    """Rename logical -> physical column names just before writing data
    files: RENAME COLUMN is metadata-only, so every data file — old and
    new — carries PHYSICAL names. No-op for never-renamed tables."""
    mapping = delta_log.DeltaLog.column_mapping(meta.get("schema"))
    if mapping:
        df = df.withColumnsRenamed(mapping)
    return df


def _refuse_referenced(meta: dict, col: str, action: str) -> None:
    """Renaming/dropping a column that a CHECK constraint or generation
    expression references would silently break them — refuse, like Delta."""
    import re

    exprs = [
        v
        for k, v in meta.get("configuration", {}).items()
        if k.startswith("delta.constraints.")
    ]
    for f in (meta.get("schema") or {}).get("fields", []):
        g = (f.get("metadata") or {}).get("delta.generationExpression")
        if g:
            exprs.append(g)
    for expr in exprs:
        if re.search(rf"\b{re.escape(col)}\b", expr):
            raise ValueError(
                f"cannot {action} column {col!r}: referenced by a constraint "
                f"or generation expression ({expr})"
            )


def _commit_schema_change(
    snap: log_replay.Snapshot, fields: list[dict], operation: str,
    parameters: dict,
) -> int:
    """Commit RENAME/DROP COLUMN's new ``fields`` against ``snap``. They
    introduce column-mapping metadata, so the same commit raises the
    protocol and conforming readers know to apply the mapping."""
    upgrade = _protocol_upgrade_action(snap, "columnMapping")
    return commit_mutation(
        snap,
        ([upgrade] if upgrade else [])
        + [
            _metadata_action(snap.metadata(), fields=fields),
            _commit_info(operation, parameters, {}),
        ],
    )


def rename_column(
    spark: SparkSession, table_path: str, old: str, new: str
) -> int:
    """ALTER TABLE ... RENAME COLUMN — metadata-only via Delta column
    mapping: the field keeps its PHYSICAL name (recorded under
    ``delta.columnMapping.physicalName``), so no data file is rewritten;
    readers rename physical -> logical at scan time. Partition columns
    and columns referenced by constraints / generation expressions are
    refused."""
    snap = _base_snapshot(spark, table_path)
    meta = snap.metadata()
    schema = meta.get("schema") or {}
    names = {f["name"] for f in schema.get("fields", [])}
    if old not in names:
        raise ValueError(f"column {old!r} not in table schema")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if old in meta.get("partition_columns", []):
        raise ValueError(
            f"cannot rename partition column {old!r} (directory layout is "
            "physical)"
        )
    _refuse_referenced(meta, old, "rename")
    fields = []
    for f in schema["fields"]:
        if f["name"] == old:
            md = dict(f.get("metadata") or {})
            md.setdefault("delta.columnMapping.physicalName", old)
            fields.append({**f, "name": new, "metadata": md})
        else:
            fields.append(f)
    return _commit_schema_change(
        snap, fields, "RENAME COLUMN", {"from": old, "to": new}
    )


def drop_column(spark: SparkSession, table_path: str, col: str) -> int:
    """ALTER TABLE ... DROP COLUMN — metadata-only: the field leaves the
    logical schema; the data stays in the files and is simply never read
    (Delta column-mapping drop semantics)."""
    snap = _base_snapshot(spark, table_path)
    meta = snap.metadata()
    schema = meta.get("schema") or {}
    names = {f["name"] for f in schema.get("fields", [])}
    if col not in names:
        raise ValueError(f"column {col!r} not in table schema")
    if col in meta.get("partition_columns", []):
        raise ValueError(f"cannot drop partition column {col!r}")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    _refuse_referenced(meta, col, "drop")
    fields = [f for f in schema["fields"] if f["name"] != col]
    return _commit_schema_change(
        snap, fields, "DROP COLUMN", {"column": col}
    )


def _column_defaults(schema: dict | None) -> dict[str, str]:
    """{column: default expression} from the field-metadata key
    ``CURRENT_DEFAULT`` (the public delta-spark convention for the
    ``allowColumnDefaults`` writer feature)."""
    out: dict[str, str] = {}
    for f in (schema or {}).get("fields", []):
        d = (f.get("metadata") or {}).get("CURRENT_DEFAULT")
        if d:
            out[f["name"]] = d
    return out


# evaluation-time-dependent / non-deterministic functions a standalone
# SELECT happily evaluates but which would make a 'constant' default
# differ per batch and per replayed write (ADVICE r12). Two classes:
# ordinary functions (require the call parens) and NILADIC builtins
# Spark accepts bare — `current_date` with no parens parses as the
# function, not a column, so the word alone must refuse (r13 review:
# the paren-required form let bare current_date through, and the
# double-eval check can't catch a value that only changes at midnight).
_NONDETERMINISTIC_FN = re.compile(
    r"\b(rand|randn|random|uuid|shuffle|monotonically_increasing_id|"
    r"unix_timestamp|input_file_name|now|curdate|current_timezone)\s*\("
    r"|\b(current_timestamp|current_date|localtimestamp|current_user|"
    r"session_user|current_database|current_catalog|current_schema)\b",
    re.IGNORECASE,
)


def set_column_default(
    spark: SparkSession, table_path: str, col: str, expr: str
) -> int:
    """ALTER TABLE ... ALTER COLUMN col SET DEFAULT expr (Delta's
    ``allowColumnDefaults`` writer feature, D76): the default
    expression lands in the schema field's metadata under
    ``CURRENT_DEFAULT``; every subsequent INSERT/append that OMITS the
    column materializes the default (writer-side — readers see plain
    data, so the protocol upgrade is writer-only). The expression must
    be constant-foldable per the feature contract: it is validated
    here by evaluating it once, and a reference to another column
    refuses loudly instead of materializing garbage."""
    snap = _base_snapshot(spark, table_path)
    meta = snap.metadata()
    schema = meta.get("schema") or {}
    fields = [dict(f) for f in schema.get("fields", [])]
    names = {f["name"] for f in fields}
    if col not in names:
        raise ValueError(f"column {col!r} not in table schema")
    target_type = next(f["type"] for f in fields if f["name"] == col)
    if not isinstance(target_type, str):
        # _fill_default_columns only materializes primitive (string-typed)
        # targets; accepting a struct/array/map here would stamp a default
        # that is silently never applied, surfacing later as a confusing
        # schema-mismatch on append — refuse at SET DEFAULT time instead
        raise ValueError(
            f"default for {col!r} refused: column type is non-primitive"
            f" ({json.dumps(target_type)[:80]}); defaults are supported"
            " on primitive columns only"
        )
    # screen the expression with string literals blanked out: the words
    # only matter as FUNCTION references, not inside quoted constants
    # (r13 review: "concat('current_date: ', 'x')" is a pure constant).
    # The blanking is ESCAPE-aware — backslash escapes and doubled
    # quotes pair like Spark's parser, in both quote styles — so a
    # niladic can't hide behind a mis-paired 'literal' and an escaped
    # apostrophe doesn't falsely refuse a constant.
    _blanked = re.sub(
        r"'(?:\\.|''|[^'\\])*'|\"(?:\\.|\"\"|[^\"\\])*\"", "''", expr
    )
    if _NONDETERMINISTIC_FN.search(_blanked):
        # a 'constant' default must evaluate to the SAME value on every
        # batch and on replay/rebuild; rand()/uuid()/current_timestamp()
        # pass a standalone SELECT but differ per evaluation — refuse
        raise ValueError(
            f"default expression for {col!r} must be deterministic;"
            f" ({expr!r}) references a non-deterministic or"
            " evaluation-time-dependent function"
        )
    try:
        # zero-table SELECT: any column reference fails to resolve, so
        # only genuinely constant-foldable expressions pass
        first = spark.sql(f"SELECT {expr}").collect()
    except Exception as ex:
        raise ValueError(
            f"default expression for {col!r} must be constant-foldable;"
            f" ({expr!r}) failed to evaluate standalone: {ex}"
        ) from ex
    # belt-and-braces for functions the name screen misses: two separate
    # evaluations of a constant-foldable expression must agree
    second = spark.sql(f"SELECT {expr}").collect()
    if [tuple(r) for r in first] != [tuple(r) for r in second]:
        raise ValueError(
            f"default expression for {col!r} must be deterministic;"
            f" ({expr!r}) produced different values on two evaluations"
        )
    for f in fields:
        if f["name"] == col:
            md = dict(f.get("metadata") or {})
            md["CURRENT_DEFAULT"] = expr
            f["metadata"] = md
    actions: list[dict] = []
    upgrade = _protocol_upgrade_action(snap, "allowColumnDefaults")
    if upgrade:
        actions.append(upgrade)
    actions += [
        _metadata_action(meta, fields=fields),
        _commit_info(
            "ALTER COLUMN SET DEFAULT",
            {"column": col, "expr": expr, "type": str(target_type)},
            {},
        ),
    ]
    return commit_mutation(snap, actions)


def clear_column_default(
    spark: SparkSession, table_path: str, col: str
) -> int:
    """ALTER TABLE ... ALTER COLUMN col DROP DEFAULT: remove the
    ``CURRENT_DEFAULT`` metadata; appends omitting the column go back
    to the ordinary schema-conformance rules."""
    snap = _base_snapshot(spark, table_path)
    meta = snap.metadata()
    fields = [dict(f) for f in (meta.get("schema") or {}).get("fields", [])]
    hit = False
    for f in fields:
        if f["name"] == col:
            md = dict(f.get("metadata") or {})
            hit = md.pop("CURRENT_DEFAULT", None) is not None
            f["metadata"] = md
    if not hit:
        raise ValueError(f"column {col!r} has no default")
    return commit_mutation(
        snap,
        [
            _metadata_action(meta, fields=fields),
            _commit_info("ALTER COLUMN DROP DEFAULT", {"column": col}, {}),
        ],
    )


def _fill_default_columns(
    spark: SparkSession, df: DataFrame, meta: dict | None
):
    """Materialize declared DEFAULTs for columns the batch OMITS
    (allowColumnDefaults writer behavior — cast to the declared type);
    columns the batch provides keep their values untouched. Takes the
    caller's already-loaded metadata — no extra log replay per
    write."""
    from pyspark.sql import functions as F

    schema = (meta or {}).get("schema")
    defaults = _column_defaults(schema)
    if not defaults:
        return df
    types = {f["name"]: f["type"] for f in (schema or {}).get("fields", [])}
    for c, expr in defaults.items():
        if c not in df.columns and isinstance(types.get(c), str):
            df = df.withColumn(c, F.expr(expr).cast(types[c]))
    return df


def _generated_columns(schema: dict | None) -> dict[str, str]:
    """{column: generation expression} from the Delta-spec field metadata
    key ``delta.generationExpression``."""
    out: dict[str, str] = {}
    for f in (schema or {}).get("fields", []):
        g = (f.get("metadata") or {}).get("delta.generationExpression")
        if g:
            out[f["name"]] = g
    return out


def set_generated_column(
    spark: SparkSession, table_path: str, col: str, expr: str
) -> int:
    """Declare ``col`` as a GENERATED column (Delta generated columns:
    the generation expression lives in the schema field's metadata under
    ``delta.generationExpression``). Subsequent writes compute the column
    when the batch omits it and refuse batches whose provided values
    disagree with the expression. Existing data is validated once here."""
    from pyspark.sql import functions as F

    snap = _base_snapshot(spark, table_path)
    meta = snap.metadata()
    schema = meta.get("schema") or {}
    fields = [dict(f) for f in schema.get("fields", [])]
    if col not in {f["name"] for f in fields}:
        raise ValueError(f"column {col!r} not in table schema")
    bad = (
        delta_log.read_files(spark, snap)
        .where(~F.col(col).eqNullSafe(F.expr(expr)))
        .limit(1)
        .count()
    )
    if bad:
        raise ValueError(
            f"cannot declare {col!r} generated: existing rows violate ({expr})"
        )
    for f in fields:
        if f["name"] == col:
            md = dict(f.get("metadata") or {})
            md["delta.generationExpression"] = expr
            f["metadata"] = md
    return commit_mutation(
        snap,
        [
            _metadata_action(meta, fields=fields),
            _commit_info("SET GENERATED COLUMN", {"column": col, "expr": expr}, {}),
        ],
        read_files={a["path"] for a in snap._live_adds()},
    )


def _fill_generated_columns(df: DataFrame, meta: dict):
    """Compute generated columns the batch omitted (Delta writer
    behavior); provided values are checked by ``_write_files``."""
    from pyspark.sql import functions as F

    for c, expr in _generated_columns(meta.get("schema")).items():
        if c not in df.columns:
            df = df.withColumn(c, F.expr(expr))
    return df


def _identity_specs(schema: dict | None) -> dict[str, dict]:
    """{column: spec} for Delta identity columns — the spec's field
    metadata keys ``delta.identity.start`` / ``step`` /
    ``highWaterMark`` (absent until the first value is generated) /
    ``allowExplicitInsert`` (False = GENERATED ALWAYS, True = GENERATED
    BY DEFAULT)."""
    out: dict[str, dict] = {}
    for f in (schema or {}).get("fields", []):
        md = f.get("metadata") or {}
        if "delta.identity.start" in md:
            out[f["name"]] = {
                "start": int(md["delta.identity.start"]),
                "step": int(md["delta.identity.step"]),
                "hwm": (
                    int(md["delta.identity.highWaterMark"])
                    if "delta.identity.highWaterMark" in md
                    else None
                ),
                "allow_explicit": bool(
                    md.get("delta.identity.allowExplicitInsert", False)
                ),
            }
    return out


def _identity_fields(
    meta: dict, updates: dict[str, int]
) -> list[dict]:
    """The table's schema fields with each column's
    ``delta.identity.highWaterMark`` replaced per ``updates`` — the
    field list a HWM-advancing commit re-emits in its metaData."""
    fields = [dict(f) for f in (meta.get("schema") or {}).get("fields", [])]
    for f in fields:
        if f["name"] in updates:
            md = dict(f.get("metadata") or {})
            md["delta.identity.highWaterMark"] = updates[f["name"]]
            f["metadata"] = md
    return fields


def set_identity_column(
    spark: SparkSession,
    table_path: str,
    col: str,
    start: int = 1,
    step: int = 1,
    allow_explicit_insert: bool = False,
) -> int:
    """Declare ``col`` an IDENTITY column (Delta identity columns,
    writer feature ``identityColumns``): subsequent ``write`` batches
    that omit the column get values ``start + k*step`` assigned
    distributed (per-partition contiguous blocks — the same reservation
    shape Delta's tasks use), with the high-water mark re-emitted in the
    SAME commit's metaData so concurrent writers conflict instead of
    duplicating values. ``allow_explicit_insert=False`` is GENERATED
    ALWAYS (providing the column refuses); True is GENERATED BY DEFAULT
    (provided values accepted, the mark advances past them).

    Declaring on a table with existing data syncs the mark to the
    column's current extreme so generated values never collide
    (the spec's SYNC IDENTITY, run once at declaration)."""
    from pyspark.sql import functions as F

    snap = _base_snapshot(spark, table_path)
    if step == 0:
        raise ValueError("identity step must be non-zero")
    meta = snap.metadata()
    schema = meta.get("schema") or {}
    field = next(
        (f for f in schema.get("fields", []) if f["name"] == col), None
    )
    if field is None:
        raise ValueError(f"column {col!r} not in table schema")
    if field.get("type") != "long":
        raise ValueError(
            f"identity column must be LONG, {col!r} is {field.get('type')!r}"
        )
    if col in meta.get("partition_columns", []):
        raise ValueError(f"identity column {col!r} cannot be a partition column")
    md = field.get("metadata") or {}
    if "delta.generationExpression" in md:
        raise ValueError(f"column {col!r} is already a generated column")
    if "delta.identity.start" in md:
        raise ValueError(f"column {col!r} is already an identity column")

    # sync the mark to existing data so generated values never collide
    agg = F.max(col) if step > 0 else F.min(col)
    row = delta_log.read_files(spark, snap).agg(agg.alias("m")).collect()[0]
    hwm = None
    if row["m"] is not None:
        hwm = int(row["m"])
        if (step > 0 and hwm < start) or (step < 0 and hwm > start):
            hwm = None  # all existing values sit before start; fresh series

    fields = [dict(f) for f in schema["fields"]]
    for f in fields:
        if f["name"] == col:
            fmd = dict(f.get("metadata") or {})
            fmd["delta.identity.start"] = start
            fmd["delta.identity.step"] = step
            fmd["delta.identity.allowExplicitInsert"] = allow_explicit_insert
            if hwm is not None:
                fmd["delta.identity.highWaterMark"] = hwm
            f["metadata"] = fmd
    actions: list[dict] = []
    upgrade = _protocol_upgrade_action(snap, "identityColumns")
    if upgrade is not None:
        actions.append(upgrade)
    actions.append(_metadata_action(meta, fields=fields))
    actions.append(
        _commit_info(
            "SET IDENTITY COLUMN",
            {"column": col, "start": start, "step": step,
             "allowExplicitInsert": allow_explicit_insert},
            {},
        )
    )
    return commit_mutation(
        snap, actions,
        read_files={a["path"] for a in snap._live_adds()},
    )


def sync_identity(spark: SparkSession, table_path: str, col: str) -> int:
    """ALTER TABLE ... SYNC IDENTITY: recompute the high-water mark from
    the column's actual data (max for positive step, min for negative)
    and re-emit metaData when it moved. The mark only ever advances —
    shrinking it would let future generated values collide with rows a
    concurrent reader already saw."""
    from pyspark.sql import functions as F

    snap = _base_snapshot(spark, table_path)
    meta = snap.metadata()
    specs = _identity_specs(meta.get("schema"))
    if col not in specs:
        raise ValueError(f"column {col!r} is not an identity column")
    spec = specs[col]
    agg = F.max(col) if spec["step"] > 0 else F.min(col)
    row = delta_log.read_files(spark, snap).agg(agg.alias("m")).collect()[0]
    version = snap.version()
    if row["m"] is None:
        return version  # empty table: nothing to sync
    data_mark = int(row["m"])
    hwm = spec["hwm"]
    if hwm is not None and (
        (spec["step"] > 0 and data_mark <= hwm)
        or (spec["step"] < 0 and data_mark >= hwm)
    ):
        return version  # mark already covers the data
    return commit_mutation(
        snap,
        [
            _metadata_action(meta, fields=_identity_fields(meta, {col: data_mark})),
            _commit_info("SYNC IDENTITY", {"column": col}, {}),
        ],
        read_files={a["path"] for a in snap._live_adds()},
    )


_PARTITION_ID_BITS = 33  # monotonically_increasing_id: pid<<33 | local row


def _fill_identity_columns(
    spark: SparkSession, df: DataFrame, table_path: str, meta: dict | None
):
    """Assign identity values to columns the batch omits and validate
    explicit values; returns ``(df, hwm_updates)`` where ``hwm_updates``
    maps column -> new high-water mark the commit must re-emit (empty
    when the table has no identity columns or nothing advanced).

    Scale shape: one ``localCheckpoint`` pins the batch (freezing the
    nondeterministic partition ids so the count pass and the assignment
    pass agree), one tiny per-partition-count aggregate (|partitions|
    rows to the driver — bounded by the batch's task count, not its
    rows), then values come from a broadcast offsets join: each
    partition gets a contiguous block past the mark, exactly the
    reservation scheme Delta writers use per task. No data shuffle."""
    specs = _identity_specs((meta or {}).get("schema"))
    if not specs:
        return df, {}
    from pyspark.sql import functions as F

    updates: dict[str, int] = {}
    to_generate: dict[str, dict] = {}
    explicit_aggs = []
    for col, spec in specs.items():
        if col in df.columns:
            if not spec["allow_explicit"]:
                raise ValueError(
                    f"identity column {col!r} is GENERATED ALWAYS; the "
                    "batch must not provide it"
                )
            explicit_aggs.append(
                (F.max(col) if spec["step"] > 0 else F.min(col)).alias(col)
            )
        else:
            to_generate[col] = spec

    if to_generate:
        df = df.withColumn(
            "_id_mid", F.monotonically_increasing_id()
        ).localCheckpoint()
        pid = F.shiftright("_id_mid", _PARTITION_ID_BITS)
        counts = sorted(
            df.groupBy(pid.alias("_id_pid"))
            .agg(F.count(F.lit(1)).alias("_id_cnt"))
            .collect(),
            key=lambda r: r["_id_pid"],
        )
        offsets, acc = [], 0
        for r in counts:
            offsets.append((int(r["_id_pid"]), acc))
            acc += int(r["_id_cnt"])
        off_df = spark.createDataFrame(
            offsets or [(0, 0)], "_id_pid long, _id_off long"
        )
        df = df.join(
            F.broadcast(off_df),
            pid == F.col("_id_pid"),
            "left",
        ).drop("_id_pid")
        local = F.col("_id_mid").bitwiseAND(
            F.lit((1 << _PARTITION_ID_BITS) - 1)
        )
        for col, spec in to_generate.items():
            base = spec["hwm"]
            if base is None:
                base = spec["start"] - spec["step"]
            value = (
                F.lit(base)
                + F.lit(spec["step"]) * (F.col("_id_off") + local + F.lit(1))
            ).cast("long")
            # the offsets join covers every partition id by construction,
            # so the value is never null — coalesce restores the
            # non-nullable flag the join's schema lost (the logged column
            # may be NOT NULL and the append comparison is nullability-
            # sensitive)
            df = df.withColumn(col, F.coalesce(value, F.lit(0).cast("long")))
            if acc > 0:
                updates[col] = base + spec["step"] * acc
        df = df.drop("_id_mid", "_id_off")

    if explicit_aggs:
        row = df.agg(*explicit_aggs).collect()[0]
        for col, spec in specs.items():
            if col not in df.columns or col in to_generate:
                continue
            if row[col] is None:
                continue
            seen = int(row[col])
            hwm = spec["hwm"]
            if hwm is None:
                hwm = spec["start"] - spec["step"]
            if (spec["step"] > 0 and seen > hwm) or (
                spec["step"] < 0 and seen < hwm
            ):
                updates[col] = seen

    if to_generate:
        # withColumn appended the filled columns at the END; restore the
        # logged field order so the append-schema comparison (which is
        # order-sensitive) sees the table's own shape
        logged_order = [
            f["name"] for f in (meta or {}).get("schema", {}).get("fields", [])
        ]
        if set(df.columns) == set(logged_order):
            df = df.select(*logged_order)
    return df, updates


def _constraint_aggs(df: DataFrame, meta: dict):
    """(aggregate columns, checks, not_null, gens) folding every CHECK
    constraint / non-nullable logged column / generated-column equation
    of the table metadata ``meta`` into one set of violation-count
    aggregates — or None when the table declares nothing to validate."""
    from pyspark.sql import functions as F

    checks = {
        k[len("delta.constraints."):]: v
        for k, v in meta.get("configuration", {}).items()
        if k.startswith("delta.constraints.")
    }
    not_null = [
        f["name"]
        for f in (meta.get("schema") or {}).get("fields", [])
        if f.get("nullable") is False and f["name"] in df.columns
    ]
    gens = {
        c: expr
        for c, expr in _generated_columns(meta.get("schema")).items()
        if c in df.columns
    }
    if not checks and not not_null and not gens:
        return None
    aggs = [
        F.sum(F.when(~F.expr(expr), 1).otherwise(0)).alias(f"c_{name}")
        for name, expr in checks.items()
    ] + [
        F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_{c}")
        for c in not_null
    ] + [
        F.sum(
            F.when(~F.col(c).eqNullSafe(F.expr(expr)), 1).otherwise(0)
        ).alias(f"g_{c}")
        for c, expr in gens.items()
    ]
    return aggs, checks, not_null, gens


def _raise_constraint_violations(row, checks, not_null, gens) -> None:
    """Raise on any nonzero violation count; ``row`` supports both the
    Row of a standalone aggregate and the dict an Observation yields."""
    get = row.get if isinstance(row, dict) else row.__getitem__
    for name, expr in checks.items():
        n = get(f"c_{name}") or 0
        if n:
            raise ValueError(
                f"CHECK constraint {name!r} violated by {n} row(s): ({expr})"
            )
    for c in not_null:
        n = get(f"n_{c}") or 0
        if n:
            raise ValueError(f"NOT NULL constraint violated: {c} has {n} null(s)")
    for c, expr in gens.items():
        n = get(f"g_{c}") or 0
        if n:
            raise ValueError(
                f"generated column {c!r} has {n} row(s) disagreeing with ({expr})"
            )


# A boolean column a rewrite may carry for its own observed aggregates
# (UPDATE: the row matched; MERGE: the row comes from the source).
# _write_files drops it after the observation, before the write.
REWRITE_MARK = "__rewrite_mark__"


def _write_files(
    spark: SparkSession,
    snap: log_replay.Snapshot,
    df: DataFrame,
    partition_by: list[str],
    data_change: bool = True,
    validate: bool = True,
    aggs: list | None = None,
    physical: bool = True,
) -> tuple[list[dict], dict]:
    """Write ``df`` as new data files of the table of ``snap``, the
    snapshot the operation commits against; returns (their add actions,
    the observed values). The one file-writing path of every operation
    that adds data files — write, DML and the maintenance rewrites. In
    order:

    1. one ``Observation`` rides on the write job: the caller's named
       ``aggs`` plus, when ``validate``, the CHECK / NOT NULL /
       generated-column violation counts of ``snap``'s metadata
       (``_constraint_aggs``) — no separate validation pass over the
       batch;
    2. ``df`` (minus ``REWRITE_MARK``, in physical column names unless
       ``physical`` is False) is written with ``partition_by``;
    3. the new files are the table folder's listing minus the one taken
       before the write;
    4. on a violation those files are discarded (``_discard_files``)
       before raising, so a refused batch leaves no debris;
    5. files holding no row (Spark writes one when every task of the
       write is empty — a DELETE that removes every row it rewrites) are
       discarded too: a 0-row add would only grow the small-file count;
    6. the other files' add actions carry ``dataChange = data_change``.

    The observation is read only after the write job that computes it,
    so ``Observation.get`` never waits on a plan that is not run."""
    table_path, meta = snap.table_path, snap.metadata()
    aggs = list(aggs or [])
    check = _constraint_aggs(df, meta) if validate else None
    if check is not None:
        aggs += check[0]
    obs = None
    if aggs:
        from pyspark.sql import Observation

        obs = Observation()
        df = df.observe(obs, *aggs)
    if REWRITE_MARK in df.columns:
        df = df.drop(REWRITE_MARK)
    if physical:
        df = _to_physical(df, meta)
    before = _list_parquet_rel(table_path)
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(table_path)
    new_files = sorted(_list_parquet_rel(table_path).keys() - before)
    try:
        observed = obs.get if obs is not None else {}
        if check is not None:
            _raise_constraint_violations(observed, *check[1:])
    except Exception:
        _discard_files(table_path, new_files)
        raise
    adds = [_add_action(table_path, rel, data_change) for rel in new_files]
    empty = {
        rel for rel, a in zip(new_files, adds)
        if log_replay._num_records(a["add"]["stats"]) == 0
    }
    _discard_files(table_path, sorted(empty))
    return [a for rel, a in zip(new_files, adds) if rel not in empty], observed


def _discard_files(table_path: str, rels: list[str]) -> None:
    """Delete uncommitted data files, their hidden Hadoop checksums and
    the partition directories they leave empty."""
    for rel in rels:
        head, name = os.path.split(os.path.join(table_path, rel))
        for n in (name, f".{name}.crc"):
            try:
                os.remove(os.path.join(head, n))
            except OSError:
                pass
    for d in {os.path.dirname(rel) for rel in rels}:
        while d:
            try:
                os.rmdir(os.path.join(table_path, d))
            except OSError:
                break  # not empty: it holds committed files
            d = os.path.dirname(d)


def _remove_actions(paths, data_change: bool = True) -> list[dict]:
    """One remove action per path, sorted, stamped now."""
    now = int(time.time() * 1000)
    return [
        {"remove": {"path": p.replace(os.sep, "/"), "deletionTimestamp": now,
                    "dataChange": data_change}}
        for p in sorted(paths)
    ]


def schema_has(dt, types: tuple) -> bool:
    """True when ``dt`` (a DataType or StructType) contains an instance
    of one of ``types`` anywhere — top-level, nested in structs, or
    inside array/map element types."""
    from pyspark.sql import types as T

    if isinstance(dt, types):
        return True
    if isinstance(dt, T.StructType):
        return any(schema_has(f.dataType, types) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return schema_has(dt.elementType, types)
    if isinstance(dt, T.MapType):
        return schema_has(dt.keyType, types) or schema_has(dt.valueType, types)
    return False


def _txn_replayed(
    snap: log_replay.Snapshot, app_id: str | None, version: int | None
) -> bool:
    """The idempotent replay guard of ``write`` and ``merge``: True when
    ``app_id`` recorded ``version`` or a later one at ``snap`` — a
    restarted stream replaying a batch that already committed, which
    must write nothing."""
    if (app_id is None) != (version is None):
        raise ValueError("txn_app_id and txn_version must be set together")
    if app_id is None:
        return False
    last = snap.txn_version(app_id)
    return last is not None and version <= last


def _txn_action(app_id: str | None, version: int | None) -> list[dict]:
    """The ``txn`` action (Delta spec) a guarded batch commits with its
    data; [] for an unguarded one."""
    if app_id is None:
        return []
    return [{"txn": {"appId": app_id, "version": version,
                     "lastUpdated": int(time.time() * 1000)}}]


def write(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    checkpoint_interval: int | None = None,
    cluster_by: list[str] | None = None,
) -> int:
    """Write ``df`` as a new Delta commit; returns the committed version.

    ``cluster_by`` range-partitions and sorts the batch by the given
    columns BEFORE writing (Delta's optimized/clustered ingest). The
    range partition count is the incoming batch's partition count, so
    the write emits one file per partition of ``df`` (fewer when a
    range comes out empty or adaptive execution coalesces partitions).
    Each file covers a narrow, mostly-disjoint range of the cluster
    key, so the per-file min/max stats prune from the first write — no
    OPTIMIZE ZORDER rewrite needed for the common single-key access
    path. A one-partition batch writes a single file, which no min/max
    probe can prune. One extra range shuffle per batch.

    Idempotent replay guard: with ``txn_app_id``/``txn_version`` set the
    commit carries a ``txn`` action (Delta spec), and a write whose
    version is at or below the last one the base snapshot records for
    that appId is SKIPPED (returns the snapshot's version, writes
    nothing) — this is what makes a restarted streaming sink
    exactly-once instead of duplicate-on-replay. A commit of the same
    appId that lands while this write runs raises
    ``ConcurrentTransactionException``, so two attempts of one batch
    cannot both commit.

    Schema handling: an append whose schema differs from the logged one
    raises unless ``merge_schema=True``, which widens the table schema
    (old columns keep their types, new columns append; old files read as
    null for new columns via the logged read schema in ``snapshot``).

    Concurrency: every fact the write depends on — replay guard,
    partitioning, schema, column defaults, generated and identity
    columns, ``optimizeWrite`` sizing, clustering, the append-only
    check and an overwrite's remove set — comes from ONE base snapshot
    (version -1 for a new table). The data files are written once and
    committed through ``commit_mutation`` at that version as a blind
    write (no read set): an append rebases over racing appends and
    deletes; a metadata or protocol change, or a creation of the same
    new table, raises ``MetadataChangedException``; an overwrite removes
    only the files it read, so a racing append survives it (Delta's
    WriteSerializable outcome). An overwrite that changes the schema or
    the partitioning is not blind: it reads every live file, so a racing
    append, written in the old layout, raises
    ``ConcurrentAppendException``. On a local FS the file-set diff of
    ``_write_files`` is not concurrency-safe for simultaneous writers to
    the SAME directory tree; the put-if-absent commit protects the log,
    which is where real log stores draw the line.
    """
    partition_by = list(partition_by or [])
    if mode not in ("append", "overwrite"):
        raise ValueError(f"bad mode {mode!r}")
    snap = log_replay.Snapshot(table_path)
    _require_writable(snap)
    version = snap.version()
    if _txn_replayed(snap, txn_app_id, txn_version):
        return version
    meta = snap.metadata()

    removed: list[str] = []
    schema_changed = False
    merged_schema: dict | None = None
    hwm_updates: dict[str, int] = {}
    if version >= 0:
        # writes inherit the table's partition layout: unpartitioned
        # files appended into a hive-partitioned table would be invisible
        # to the partition-injecting snapshot reader (silent data loss),
        # and a CONFLICTING layout on append corrupts partition pruning
        logged_parts = meta.get("partition_columns") or []
        if not partition_by:
            partition_by = list(logged_parts)
        elif mode == "append" and partition_by != logged_parts:
            raise ValueError(
                f"append partitioned by {partition_by}, but the table is "
                f"partitioned by {logged_parts}"
            )
        if mode == "overwrite":
            _refuse_append_only(snap, "OVERWRITE")
            removed = [a["path"] for a in snap._live_adds()]
        # defaults BEFORE generated columns: a generation expression may
        # reference a defaulted column the batch omitted
        df = _fill_default_columns(spark, df, meta)
        df = _fill_generated_columns(df, meta)
        df, hwm_updates = _fill_identity_columns(spark, df, table_path, meta)
        if mode == "append":
            df, schema_changed, merged_schema = _merge_append_schema(
                df, meta.get("schema"), merge_schema
            )
        else:
            # overwrite may re-layout the table, but then the metaData
            # action must be re-emitted with the new partitionColumns or
            # readers keep injecting the old ones
            schema_changed = partition_by != logged_parts or (
                meta.get("schema") is not None
                and _norm_fields(meta["schema"])
                != _norm_fields(json.loads(df.schema.json()))
            )

    if cluster_by is None and version >= 0:
        # liquid clustering: a clustered table's declared columns apply
        # to every ingest that doesn't choose its own layout (skipped
        # when a schema-replacing overwrite dropped a declared column)
        declared = clustering_columns(snap)
        if declared and all(c in df.columns for c in declared):
            cluster_by = declared
    if cluster_by:
        # on LOGICAL names (a renamed table's physical names would not
        # resolve). Partition count follows the incoming batch, not the
        # shuffle default — inheriting 200 would shred a small batch
        # into tiny files.
        n_out = max(1, df.rdd.getNumPartitions())
        df = df.repartitionByRange(n_out, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    elif cluster_by is None and str(
        (meta.get("configuration") or {}).get(
            "delta.autoOptimize.optimizeWrite", ""
        )
    ).lower() == "true":
        # delta.autoOptimize.optimizeWrite: size the batch's output
        # partition count to the target file size BEFORE writing, so
        # many-partition small batches don't shred into small files at
        # ingest (the pre-write shuffle Delta's Optimized Write runs).
        # Bytes/row comes from the table's own live add stats
        # (metadata-scale); cost = one count() pass over the batch, paid
        # only when the property is set. Only ever coalesces DOWN —
        # a genuinely large batch keeps its parallelism.
        from delta_lake_health_spark.operators.maintenance import (
            _table_target_file_size,
        )

        adds_live = snap._live_adds()
        tot_b = sum(a.get("size", 0) for a in adds_live)
        tot_r = sum(log_replay._num_records(a.get("stats")) or 0
                    for a in adds_live)
        bytes_per_row = (tot_b / tot_r) if tot_r else 100.0
        target = _table_target_file_size(snap)
        # Pin the batch before counting: without this the incoming
        # plan is evaluated twice (count + write) and a
        # nondeterministic upstream could size against stale counts.
        df = df.localCheckpoint(eager=True)
        n_rows = df.count()
        n_out = max(1, math.ceil(n_rows * bytes_per_row / target))
        if n_out < df.rdd.getNumPartitions():
            df = (
                df.repartition(n_out, *partition_by)
                if partition_by
                else df.repartition(n_out)
            )
    # VARIANT columns gate the variantType table feature (reader+writer:
    # the shredded parquet encoding is unreadable without it). A real
    # type walk, not a schema-JSON substring test — a plain column
    # NAMED "variant" must not gate anything.
    needs_variant = schema_has(df.schema, (VariantType,))

    # files carry physical names; a schema-REPLACING overwrite resets the
    # mapping (its metaData is re-emitted from the new df schema)
    adds, _ = _write_files(
        spark, snap, df, partition_by,
        physical=not (mode == "overwrite" and schema_changed),
    )
    n_records = sum(json.loads(a["add"]["stats"])["numRecords"] for a in adds)

    actions: list[dict] = []
    if version < 0:
        actions.append({"protocol": (
            {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["variantType"],
                "writerFeatures": sorted(
                    {"appendOnly", "invariants", "variantType"}
                ),
            }
            if needs_variant
            else {"minReaderVersion": 1, "minWriterVersion": 2}
        )})
        actions.append(
            _metadata_action(
                {}, fields=df.schema.jsonValue()["fields"],
                partition_columns=partition_by,
            )
        )
    else:
        if needs_variant and (
            upgrade := _protocol_upgrade_action(snap, "variantType")
        ) is not None:
            actions.append(upgrade)
        if schema_changed:
            # schema-changing write: re-emit metaData so snapshot() of a
            # later-emptied table reconstructs the NEW schema; table id and
            # configuration (constraints) carry over from the current
            # metadata — re-emitting must not drop them. Identity marks
            # advanced by this very batch fold into the same action.
            if hwm_updates and merged_schema is not None:
                merged_schema = {
                    **merged_schema,
                    "fields": _identity_fields(
                        {**meta, "schema": merged_schema}, hwm_updates
                    ),
                }
            actions.append(
                _metadata_action(
                    meta,
                    fields=(merged_schema or df.schema.jsonValue())["fields"],
                    partition_columns=partition_by,
                )
            )
        elif hwm_updates:
            # identity-only metaData re-emit: the schema shape is
            # unchanged, only the high-water marks moved — committing
            # them with the data is what makes concurrent identity
            # writers CONFLICT (metadata change) instead of silently
            # generating duplicate values
            actions.append(
                _metadata_action(meta, fields=_identity_fields(meta, hwm_updates))
            )
    actions += adds + _remove_actions(removed) + _txn_action(txn_app_id, txn_version)
    actions.append(
        _commit_info(
            "WRITE",
            {"mode": "Overwrite" if mode == "overwrite" else "Append",
             "partitionBy": json.dumps(partition_by)},
            {"numFiles": len(adds), "numOutputRows": n_records,
             "numRemovedFiles": len(removed)},
        )
    )
    # an overwrite that re-lays the table (new schema or partitioning)
    # read every live file: an append racing it wrote the old layout, so
    # it must conflict rather than survive unreadable
    committed = commit_mutation(
        snap, actions,
        read_files=set(removed) if mode == "overwrite" and schema_changed
        else None,
        removed_files=set(removed),
    )
    if checkpoint_interval and committed > 0 and (
        committed % checkpoint_interval == 0
    ):
        # Delta's periodic checkpoint (delta.checkpointInterval): fold
        # the log so readers scan one parquet + a short tail instead of
        # every commit JSON
        delta_log.DeltaLog(spark, table_path).checkpoint()
    # best-effort, CONTAINED: the data commit above already succeeded,
    # so a compaction that loses a concurrency race must not fail the
    # write that committed
    try:
        _maybe_auto_compact(spark, table_path, meta)
    except RuntimeError:
        pass  # a later write's auto-compact picks the files up
    return committed


def _readd_actions(table_path: str, live: list[dict]) -> list[dict]:
    """Metadata-only re-adds of unchanged live files (dataChange=false,
    fresh footer stats), each paired with a same-version remove: the
    add outranks it, so the file stays live and the incremental .crc
    checksum nets to zero. A re-add carries the file's ``tags`` (ZCUBE
    membership) and keeps its row-tracking ids — its rows did not move,
    so reassigning them would be silent corruption."""
    out = []
    for old in sorted(live, key=lambda a: a["path"]):
        a = _add_action(table_path, old["path"], data_change=False)
        if old.get("tags"):
            a["add"]["tags"] = dict(old["tags"])
        if old.get("baseRowId") is not None:
            a["add"]["baseRowId"] = int(old["baseRowId"])
            a["add"]["defaultRowCommitVersion"] = old.get(
                "defaultRowCommitVersion"
            )
            a["add"][PRESERVE_ROW_ID_FLAG] = True
        out.append(a)
    return out + _remove_actions([a["path"] for a in live], data_change=False)


def _rel_paths(df: DataFrame) -> set[str]:
    """The distinct ``_rel_path`` of a lineage-tagged snapshot's rows."""
    return {r._rel_path for r in df.select("_rel_path").distinct().collect()}


def _rewrite_matching(
    spark: SparkSession,
    snap: log_replay.Snapshot,
    predicate: str,
    operation: str,
    count_metric: str,
    rewrite,
) -> int:
    """DELETE and UPDATE: find the live files of ``snap``, the base
    snapshot, holding a row that matches ``predicate`` (the DV-aware
    lineage scan of ``snap``), have ``rewrite(hit_files)`` write their
    replacement rows through ``_write_files`` — it reads them from
    ``snap`` too, and returns (add actions, extra actions, extra
    metrics) — and commit them with the removes of the hit files through
    ``commit_mutation`` against ``snap``, whose live files are the read
    set. No match commits the bare operation with ``count_metric`` 0."""
    from pyspark.sql import functions as F

    read_files = {a["path"] for a in snap._live_adds()}
    hits = _rel_paths(
        delta_log.read_files(spark, snap, keep_lineage=True).where(F.expr(predicate))
    )
    params = {"predicate": predicate}
    if not hits:
        actions = [_commit_info(operation, params,
                                {"numRemovedFiles": 0, count_metric: 0})]
    else:
        adds, extra, metrics = rewrite(sorted(hits))
        actions = adds + _remove_actions(hits) + extra + [
            _commit_info(operation, params,
                         {"numRemovedFiles": len(hits),
                          "numAddedFiles": len(adds), **metrics})
        ]
    return commit_mutation(
        snap, actions,
        read_files=read_files, removed_files=hits,
    )


def delete(spark: SparkSession, table_path: str, predicate: str) -> int:
    """Delete rows matching ``predicate`` (SQL string). Rewrites only the
    files that contain matching rows, keeping every row the predicate
    does not hold for (NULL included), and commits remove+add with
    operation DELETE."""
    snap = _base_snapshot(spark, table_path)
    _refuse_append_only(snap, "DELETE")
    meta = snap.metadata()

    from pyspark.sql import functions as F

    matches = F.coalesce(F.expr(predicate), F.lit(False))

    def rewrite(hit_files):
        # DV-aware read of the hit files only: soft-deleted positions
        # don't resurrect, and the change data is ∝ |changed rows|
        rows = delta_log.read_files(spark, snap, hit_files)
        adds, _ = _write_files(
            spark, snap, rows.where(~matches), meta["partition_columns"]
        )
        cdc = []
        if _cdf_enabled(meta):
            change = rows.where(matches).withColumn("_change_type", F.lit("delete"))
            cdc = [_cdc_action(table_path, _write_change_data(spark, table_path, change))]
        return adds, cdc, {}

    return _rewrite_matching(
        spark, snap, predicate, "DELETE", "numDeletedRows", rewrite
    )


def merge(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    key_cols: list[str],
    txn_app_id: str | None = None,
    txn_version: int | None = None,
    not_matched_by_source_delete: str | None = None,
    ) -> int:
    """Upsert ``source`` into the table by ``key_cols`` (whole-row update
    on match, insert otherwise) — the MERGE operation the reference counts
    in history (delta_python_analyzer.py:168 ops_summary).

    ``not_matched_by_source_delete`` adds Delta's ``WHEN NOT MATCHED BY
    SOURCE THEN DELETE`` clause with a condition (SQL over target rows;
    ``"true"`` deletes every unmatched row): target rows with no key
    match in the source that satisfy it are deleted — the CDC full-sync
    shape ("source is the truth for the slice it covers", e.g. condition
    = the source's partition range). Only files actually containing such
    rows are rewritten, same pruning as the match side.

    Implementation: find the files containing matched keys (one
    distributed semi-join; one more for the not-matched-by-source
    clause), then write their survivors (matched and deleted rows
    dropped) together with the full source in ONE job through
    ``_write_files`` — its observation carries the constraint check and
    the identity high-water marks — and make one commit. Hit-file
    detection and the survivor read both scan the base snapshot the
    commit is checked against, through the DV-aware
    ``delta_log.read_files``: with lineage for the hit files (a plain
    scan cannot resolve ``_metadata.file_path`` after its DV anti-join),
    restricted to the hit files for the survivors (a raw parquet read
    would resurrect soft-deleted rows into rewritten files).
    """
    from pyspark.sql import functions as F

    snap = _base_snapshot(spark, table_path)
    if _txn_replayed(snap, txn_app_id, txn_version):
        return snap.version()
    read_files = {a["path"] for a in snap._live_adds()}
    merge_meta = snap.metadata()
    source = _fill_generated_columns(source, merge_meta)
    id_specs = _identity_specs(merge_meta.get("schema"))
    if id_specs:
        # MERGE is a whole-row upsert here: the source must carry every
        # column, so GENERATED ALWAYS identity (explicit values refused)
        # cannot be merged into; BY DEFAULT accepts the source's values
        # and the mark advances past them in this same commit.
        always = [c for c, s in id_specs.items() if not s["allow_explicit"]]
        if always:
            raise ValueError(
                f"cannot MERGE into GENERATED ALWAYS identity column(s) "
                f"{always}; declare them with allow_explicit_insert=True "
                "or use write()"
            )
        missing = [c for c in id_specs if c not in source.columns]
        if missing:
            raise ValueError(
                "MERGE is a whole-row upsert: the source must provide "
                f"the identity column(s) {missing}"
            )
    keys = source.select(*key_cols).distinct()
    target = delta_log.read_files(spark, snap, keep_lineage=True)
    hit_files = _rel_paths(target.join(F.broadcast(keys), key_cols, "left_semi"))
    # delete only when the condition is TRUE: a NULL condition keeps the
    # row (Delta's clause semantics) — bare ~expr would turn NULL into
    # filtered-out, i.e. silent data loss
    deletes = (
        None if not_matched_by_source_delete is None
        else F.coalesce(F.expr(not_matched_by_source_delete), F.lit(False))
    )
    if deletes is not None:
        # files holding unmatched rows the delete condition qualifies
        hit_files |= _rel_paths(
            target.join(F.broadcast(keys), key_cols, "left_anti").where(deletes)
        )

    rows = source.withColumn(REWRITE_MARK, F.lit(True))
    if hit_files:
        # insert-only merges append; a file-removing merge is a data
        # removal and falls under the append-only refusal like UPDATE
        _refuse_append_only(snap, "MERGE (file-rewriting)")
        survivors = delta_log.read_files(spark, snap, sorted(hit_files)).join(
            F.broadcast(keys), key_cols, "left_anti"
        )
        if deletes is not None:
            survivors = survivors.where(~deletes)
        rows = survivors.withColumn(REWRITE_MARK, F.lit(False)).unionByName(
            rows, allowMissingColumns=True
        )
    # identity marks advance past the SOURCE rows' values only
    adds, seen = _write_files(
        spark, snap, rows, merge_meta["partition_columns"],
        aggs=[
            (F.max if s["step"] > 0 else F.min)(
                F.when(F.col(REWRITE_MARK), F.col(c))
            ).alias(f"identity_{c}")
            for c, s in id_specs.items()
        ],
    )
    identity_updates: dict[str, int] = {}
    for c, s in id_specs.items():
        if seen.get(f"identity_{c}") is None:
            continue
        value = int(seen[f"identity_{c}"])
        hwm = s["hwm"] if s["hwm"] is not None else s["start"] - s["step"]
        if (s["step"] > 0 and value > hwm) or (s["step"] < 0 and value < hwm):
            identity_updates[c] = value

    extra: list[dict] = []
    if _cdf_enabled(merge_meta):
        # change rows, whole-row-update semantics: matched target rows
        # are preimages, their source rows postimages; unmatched source
        # rows are inserts; condition-qualified unmatched target rows
        # are deletes. Written only once the data write has passed its
        # checks — one extra narrow write ∝ |changed rows|.
        out_cols = [c for c in source.columns]
        tgt = target.drop("_rel_path", "_row_index").select(*out_cols)
        matched_tgt = tgt.join(F.broadcast(keys), key_cols, "left_semi")
        matched_keys = matched_tgt.select(*key_cols).distinct()
        src_upd = source.select(*out_cols).join(
            F.broadcast(matched_keys), key_cols, "left_semi"
        )
        src_ins = source.select(*out_cols).join(
            F.broadcast(matched_keys), key_cols, "left_anti"
        )
        change = (
            matched_tgt.withColumn("_change_type", F.lit("update_preimage"))
            .unionByName(
                src_upd.withColumn("_change_type", F.lit("update_postimage"))
            )
            .unionByName(src_ins.withColumn("_change_type", F.lit("insert")))
        )
        if deletes is not None:
            change = change.unionByName(
                tgt.join(F.broadcast(keys), key_cols, "left_anti")
                .where(deletes)
                .withColumn("_change_type", F.lit("delete"))
            )
        extra.append(
            _cdc_action(table_path, _write_change_data(spark, table_path, change))
        )
    if identity_updates:
        extra.append(
            _metadata_action(
                merge_meta, fields=_identity_fields(merge_meta, identity_updates)
            )
        )
    extra += _txn_action(txn_app_id, txn_version)
    return commit_mutation(
        snap,
        adds + _remove_actions(hit_files) + extra + [
            _commit_info(
                "MERGE",
                {"matchedPredicate": json.dumps(key_cols)},
                {"numTargetFilesRemoved": len(hit_files),
                 "numTargetFilesAdded": len(adds)},
            )
        ],
        read_files=read_files,
        removed_files=hit_files,
    )


def clone_shallow(spark: SparkSession, source_path: str, target_path: str) -> int:
    """SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): a new
    table whose v0 log references the source's live data files by
    ABSOLUTE path — zero data copied, metadata-only, O(|files|). The
    clone then evolves independently: writes/deletes/compactions land
    in the clone's own directory (copy-on-write — rewrites read the
    referenced source files but write locally), and vacuum on the clone
    never deletes source files because they live outside its directory
    listing. Readers resolve partition values from the LOG
    (``_read_with_logged_partitions``), since hive basePath inference
    can't span two directory trees.

    Refused when the source has deletion vectors still soft-deleting
    live rows: the clone's log can't reference the source's sidecars.
    ``apply_deletion_vectors`` on the source first. The schema, the files
    and the vector check come from one snapshot of the source."""
    src_path = os.path.abspath(source_path)
    src = log_replay.table_snapshot(src_path)
    if os.path.isdir(os.path.join(target_path, LOG_DIR)):
        raise ValueError(f"target is already a Delta table: {target_path}")
    if src.live_dv_paths():
        raise ValueError(
            "shallow clone of a table with live deletion vectors is "
            "unsupported; run apply_deletion_vectors on the source first"
        )
    meta = src.metadata()
    if not meta.get("schema"):
        raise ValueError("source table has no logged schema")
    adds = src.live_add_actions()
    actions: list[dict] = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _metadata_action({**meta, "id": None}),  # a new table: a new id
    ]
    for a in adds:
        a = dict(a)
        if not os.path.isabs(a["path"]):
            a["path"] = os.path.join(src_path, a["path"])
        # the clone starts without rowTracking (fresh v0 protocol):
        # carrying the source's ids would collide with ids assigned from
        # the clone's own (empty) high-water mark after a later enable
        a.pop("baseRowId", None)
        a.pop("defaultRowCommitVersion", None)
        actions.append({"add": a})
    actions.append(
        _commit_info(
            "CLONE",
            {"source": src_path, "isShallow": True},
            {"numFiles": len(adds), "numCopiedFiles": 0},
        )
    )
    os.makedirs(target_path, exist_ok=True)
    return commit_mutation(log_replay.Snapshot(target_path), actions)


def clone_deep(spark: SparkSession, source_path: str, target_path: str) -> int:
    """DEEP CLONE (Delta `CREATE TABLE ... CLONE src`): an independent
    table holding the source's CURRENT snapshot — every live data file
    (and every deletion-vector sidecar still masking one) is COPIED into
    the target directory, and a fresh v0 log references the copies by
    relative path. Unlike :func:`clone_shallow`, the result shares no
    storage with the source: either table can be vacuumed, overwritten,
    or deleted without affecting the other. It is also the standard way
    to MATERIALIZE a shallow clone (absolute source references become
    local copies). Add-action stats and partitionValues carry over
    verbatim — no stats recompute, no data scan beyond the byte copy.
    Row-tracking ids are stripped for the same reason as shallow clone
    (the clone's high-water mark starts empty). Scale shape: the log
    commit is O(|files|) metadata like shallow clone; the byte copy is
    the data-sized step and is embarrassingly parallel (one task per
    file on a cluster — there is no shuffle, no ordering constraint).

    DV sidecars are copied verbatim: their ``rel_path`` keys match the
    copied files' relative paths, so the clone's snapshot masks exactly
    the rows the source masks. Refused only when the source mixes live
    DVs with absolute-path adds (a materialization would change the
    paths the sidecars key on). The schema, the files and the vectors
    come from one snapshot of the source."""
    src_path = os.path.abspath(source_path)
    src = log_replay.table_snapshot(src_path)
    if os.path.isdir(os.path.join(target_path, LOG_DIR)):
        raise ValueError(f"target is already a Delta table: {target_path}")
    meta = src.metadata()
    if not meta.get("schema"):
        raise ValueError("source table has no logged schema")
    adds = src.live_add_actions()
    live_dvs = src.live_dv_paths()
    if live_dvs and any(os.path.isabs(a["path"]) for a in adds):
        raise ValueError(
            "deep clone of a table mixing live deletion vectors with "
            "absolute-path file references is unsupported; run "
            "apply_deletion_vectors on the source first"
        )

    def _target_rel(a: dict) -> str:
        p = a["path"]
        if not os.path.isabs(p):
            return p
        root = src_path.rstrip("/") + "/"
        if p.startswith(root):
            return p[len(root):]
        # foreign absolute reference (source is a shallow clone):
        # re-root under the hive layout its partitionValues imply
        pv = a.get("partitionValues") or {}
        parts = [
            _partition_dir(k, pv.get(k)) for k in meta.get("partition_columns", [])
        ]
        return "/".join(parts + [os.path.basename(p)])

    os.makedirs(target_path, exist_ok=True)
    copied: list[tuple[dict, str]] = []
    seen: set[str] = set()
    for a in adds:
        rel = _target_rel(a).replace(os.sep, "/")
        if rel in seen:
            raise ValueError(f"deep clone target path collision: {rel}")
        seen.add(rel)
        src_abs = (
            a["path"]
            if os.path.isabs(a["path"])
            else os.path.join(src_path, a["path"])
        )
        dst_abs = os.path.join(target_path, rel)
        os.makedirs(os.path.dirname(dst_abs) or target_path, exist_ok=True)
        shutil.copy2(src_abs, dst_abs)
        copied.append((a, rel))
    dv_counts: dict[str, int] = {}
    if live_dvs:
        n_by_path = {
            d.get("path"): int(d.get("numDeletedRows") or 0)
            for _, d in src._every("dv", None)
        }
        for rel in live_dvs:
            dst_abs = os.path.join(target_path, rel)
            os.makedirs(os.path.dirname(dst_abs), exist_ok=True)
            src_abs = os.path.join(src_path, rel)
            if os.path.isdir(src_abs):  # sidecar written as a parquet dir
                shutil.copytree(src_abs, dst_abs)
            else:
                shutil.copy2(src_abs, dst_abs)
            dv_counts[rel] = n_by_path.get(rel, 0)

    if live_dvs:
        protocol = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": sorted(
                set(_LEGACY_WRITER_FEATURES[2]) | {"deletionVectors"}
            ),
        }
    else:
        protocol = {"minReaderVersion": 1, "minWriterVersion": 2}
    actions: list[dict] = [
        {"protocol": protocol},
        _metadata_action({**meta, "id": None}),  # a new table: a new id
    ]
    for a, rel in copied:
        a = dict(a)
        a["path"] = rel
        a.pop("baseRowId", None)
        a.pop("defaultRowCommitVersion", None)
        actions.append({"add": a})
    for rel, n in sorted(dv_counts.items()):
        actions.append({"dv": {"path": rel, "numDeletedRows": n}})
    actions.append(
        _commit_info(
            "CLONE",
            {"source": src_path, "isShallow": False},
            {"numFiles": len(copied), "numCopiedFiles": len(copied),
             "numCopiedDVs": len(dv_counts)},
        )
    )
    return commit_mutation(log_replay.Snapshot(target_path), actions)


def convert_to_delta(
    spark: SparkSession, table_path: str, partition_by: list[str] | None = None
) -> int:
    """``CONVERT TO DELTA parquet.`path``` — in-place, metadata-only
    adoption of an existing plain-parquet directory: the data files stay
    exactly where they are; a v0 log is written that references them
    with footer-derived stats (numRecords + min/max per column, read
    from parquet FOOTERS — no data scan), so skipping and log-only
    health metrics work from the first query. Partition columns are
    declared via ``partition_by`` or inferred from the hive
    ``key=value`` directory layout (every file must agree on the key
    set — mixed layouts are refused, as Delta does). After conversion
    the table is a first-class Delta table: append/delete/time-travel/
    OPTIMIZE all apply. Scale shape: one footer read per file
    (parallelizable one-task-per-file on a cluster; no shuffle) and an
    O(|files|) metadata commit."""
    if os.path.isdir(os.path.join(table_path, LOG_DIR)):
        raise ValueError(f"already a Delta table: {table_path}")
    rels = sorted(_list_parquet_rel(table_path))
    if not rels:
        raise ValueError(f"no parquet data files under {table_path}")
    # hive partition keys, in directory order (from the deepest path so
    # nested layouts keep their level order)
    key_sets = {tuple(_partition_values(r)) for r in rels}
    if len(key_sets) > 1:
        raise ValueError(
            f"inconsistent hive partitioning across files: "
            f"{sorted(key_sets)}"
        )
    inferred = list(key_sets.pop())
    part_cols = list(partition_by) if partition_by is not None else inferred
    if set(part_cols) != set(inferred):
        raise ValueError(
            f"declared partition columns {part_cols} do not match the "
            f"directory layout {inferred}"
        )
    schema = spark.read.parquet(table_path).schema
    # converted variant data needs the same reader+writer gate a fresh
    # write would stamp — a (1,2) protocol over shredded variant files
    # would let non-variant engines read bytes they can't decode
    proto: dict = (
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["variantType"],
            "writerFeatures": sorted(
                {"appendOnly", "invariants", "variantType"}
            ),
        }
        if schema_has(schema, (VariantType,))
        else {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    actions: list[dict] = [
        {"protocol": proto},
        _metadata_action(
            {}, fields=schema.jsonValue()["fields"], partition_columns=part_cols
        ),
    ]
    for rel in rels:
        actions.append(_add_action(table_path, rel))
    actions.append(
        _commit_info(
            "CONVERT",
            {"partitionedBy": json.dumps(part_cols)},
            {"numConvertedFiles": len(rels)},
        )
    )
    return commit_mutation(log_replay.Snapshot(table_path), actions)


CHANGE_DATA_DIR = "_change_data"


def _cdf_enabled(meta: dict) -> bool:
    config = (meta or {}).get("configuration", {}) or {}
    return str(config.get("delta.enableChangeDataFeed", "")).lower() == "true"


def _cdc_action(table_path: str, rel: str) -> dict:
    return {
        "cdc": {
            "path": rel,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(table_path, rel)),
            "dataChange": False,
        }
    }


def _write_change_data(spark: SparkSession, table_path: str, change) -> str:
    """Write one commit's change-data parquet under ``_change_data/``
    (underscore-prefixed: excluded from data-file listings and from the
    folder walks, like ``_deletes``). Columns are the table's LOGICAL
    names at write time plus ``_change_type``; the CDF reader unions
    with allowMissingColumns, so files predating a later RENAME
    null-fill exactly like old data files do. Returns the relative
    path."""
    out_dir = os.path.join(table_path, CHANGE_DATA_DIR)
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f".cdc-tmp-{uuid.uuid4().hex}")
    change.coalesce(1).write.parquet(tmp)
    part = next(
        f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
    )
    rel = f"{CHANGE_DATA_DIR}/cdc-{uuid.uuid4().hex}.parquet"
    os.rename(os.path.join(tmp, part), os.path.join(table_path, rel))
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    return rel


def enable_row_tracking(spark: SparkSession, table_path: str) -> int:
    """Enable Delta row tracking (writer feature ``rowTracking``): every
    subsequent commit's add actions carry ``baseRowId`` /
    ``defaultRowCommitVersion`` (assigned centrally in ``_commit``), and
    the ``delta.rowTracking`` domainMetadata tracks the id high-water
    mark. Existing live files are BACKFILLED in a second commit
    (dataChange=false re-adds), so ``DeltaLog.row_ids()`` resolves an id
    for every row immediately.

    Scope note (fresh vs stable ids, Delta spec): ids here are FRESH row
    ids — stable under appends and DV soft-deletes, REASSIGNED by
    file-rewriting operations (OPTIMIZE / UPDATE / MERGE rewrite);
    stable-id materialization into a physical column is not implemented.
    Returns the version of the backfill (or upgrade) commit."""
    snap = _base_snapshot(spark, table_path)
    upgrade = _protocol_upgrade_action(snap, "rowTracking")
    if upgrade is not None:
        commit_mutation(
            snap,
            [upgrade, _commit_info("UPGRADE PROTOCOL", {"feature": "rowTracking"}, {})],
        )
        # the backfill reads the table as the upgrade left it
        snap = _base_snapshot(spark, table_path)
    # backfill: re-add live files that predate row tracking so every
    # current row resolves an id (assignment happens inside _commit)
    need = [a for a in snap._live_adds() if a.get("baseRowId") is None]
    if not need:
        return snap.version()
    return commit_mutation(
        snap,
        _readd_actions(table_path, need)
        + [_commit_info("ROW TRACKING BACKFILL", {},
                        {"numBackfilledFiles": len(need)})],
        read_files={a["path"] for a in need},
        removed_files={a["path"] for a in need},
    )


def delete_with_dv(spark: SparkSession, table_path: str, predicate: str) -> int:
    """DELETE via a deletion vector: soft-delete the matching row
    POSITIONS in a position-delete sidecar instead of rewriting data
    files (Iceberg-style position deletes; the Delta spec's DV feature
    with a parquet sidecar in place of the roaring bitmap).

    Commit = one tiny sidecar (rel_path, row_index per deleted row) + a
    ``dv`` action. ``DeltaLog.snapshot`` anti-joins the positions back;
    ``maintenance.apply_deletion_vectors`` later rewrites the affected
    files and retires the vectors. At 100 TB this turns a delete that
    touches 1% of rows in every file from a full-table rewrite into a
    |deleted rows|-sized append."""
    from pyspark.sql import functions as F

    return _delete_rows_dv(
        spark, table_path, lambda rows: rows.where(F.expr(predicate)), predicate
    )


def _delete_rows_dv(
    spark: SparkSession,
    table_path: str,
    match,
    predicate: str,
    commit_no_match: bool = True,
) -> int:
    """The DV DELETE of every live row ``match(rows)`` keeps — ``match``
    filters a table read (a SQL predicate for ``delete_with_dv``, a key
    semi-join for the CDC sync), ``predicate`` describes it in the
    commitInfo. One ``_base_snapshot`` gives the base version and the
    read set; the positions come from the lineage-tagged snapshot, the
    change data (``delta.enableChangeDataFeed``) from the hit files
    only, and the first DV on the table upgrades the protocol in the
    same commit. No
    match commits a bare DELETE record unless ``commit_no_match`` is
    False, which returns the base version instead."""
    from pyspark.sql import functions as F

    snap = _base_snapshot(spark, table_path)
    _refuse_append_only(snap, "DELETE (deletion vector)")
    version = snap.version()
    read_files = {a["path"] for a in snap._live_adds()}
    params = {"predicate": predicate, "mode": "dv"}
    hits = match(delta_log.read_files(spark, snap, keep_lineage=True)).select(
        F.col("_rel_path").alias("rel_path"),
        F.col("_row_index").alias("row_index"),
    )
    n = hits.count()
    if n == 0:
        if not commit_no_match:
            return version
        return commit_mutation(
            snap,
            [_commit_info("DELETE", params, {"numDeletedRows": 0})],
            read_files=read_files,
        )
    # unique per attempt: another DV delete read at the same base names
    # its own sidecar, so the two meet at the conflict check
    dv_rel = f"{DELETES_DIR}/dv-{version + 1:020d}-{uuid.uuid4().hex}"
    hits.coalesce(1).write.parquet(os.path.join(table_path, dv_rel))
    cdc_actions: list[dict] = []
    if _cdf_enabled(snap.metadata()):
        # restrict to the files the hit positions live in (∝ |changed
        # rows|, not table size); read_files is DV-aware, so rows
        # already soft-deleted earlier are not re-reported
        hit_rels = sorted(
            {r.rel_path for r in hits.select("rel_path").distinct().collect()}
        )
        change = match(delta_log.read_files(spark, snap, hit_rels)).withColumn(
            "_change_type", F.lit("delete")
        )
        cdc_actions = [
            _cdc_action(table_path, _write_change_data(spark, table_path, change))
        ]
    # first DV on this table: the same commit upgrades the protocol to
    # the table-features form with deletionVectors enumerated, so
    # conforming readers without DV support refuse instead of reading
    # soft-deleted rows back
    upgrade = _protocol_upgrade_action(snap, "deletionVectors")
    return commit_mutation(
        snap,
        ([upgrade] if upgrade else [])
        + [
            {"dv": {"path": dv_rel, "numDeletedRows": n}},
            *cdc_actions,
            _commit_info("DELETE", params,
                         {"numDeletedRows": n, "numRewrittenFiles": 0}),
        ],
        read_files=read_files,
    )


def update(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    set_exprs: dict[str, str],
) -> int:
    """UPDATE rows matching ``predicate``: every RHS in ``set_exprs``
    (column -> SQL expression) is evaluated against the OLD row (standard
    SQL UPDATE semantics — assignments never see each other), only the
    files containing matches are rewritten, and the commit is
    remove+add with operation UPDATE, mirroring Delta's copy-on-write
    UPDATE. Generated columns are recomputed from their expressions after
    the assignment (updating one directly is refused), and CHECK / NOT
    NULL constraints validate the rewritten batch inside its write job,
    which also counts ``numUpdatedRows``. With
    ``delta.enableChangeDataFeed`` set the commit carries a change-data
    file (true update_preimage/postimage rows), written once the
    rewrite has passed its checks; without it the feed reconstructs the
    commit as delete+insert pairs for the touched files, same as Delta's
    UPDATE without CDF."""
    snap = _base_snapshot(spark, table_path)
    _refuse_append_only(snap, "UPDATE")

    from pyspark.sql import functions as F

    meta = snap.metadata()
    gens = _generated_columns(meta.get("schema"))
    idents = _identity_specs(meta.get("schema"))
    for col in set_exprs:
        if col in gens:
            raise ValueError(
                f"column {col!r} is generated ({gens[col]!r}); it is "
                "recomputed automatically and cannot be assigned"
            )
        if col in idents:
            raise ValueError(
                f"column {col!r} is an identity column and cannot be "
                "assigned by UPDATE (Delta identity semantics)"
            )
    cond = F.expr(predicate)

    def rewrite(hit_files):
        df = delta_log.read_files(spark, snap, hit_files)
        for col in set_exprs:
            if col not in df.columns:
                raise ValueError(f"unknown column {col!r}")
        dtypes = dict(df.dtypes)

        def assigned(value):
            # every row of ``df`` with the assigned columns set to
            # value(c), generated columns recomputed, REWRITE_MARK = matched
            out = df.select(
                *[value(c).alias(c) if c in set_exprs else F.col(c)
                  for c in df.columns],
                F.coalesce(cond, F.lit(False)).alias(REWRITE_MARK),
            )
            for gcol, gexpr in gens.items():
                out = out.withColumn(gcol, F.expr(gexpr).cast(dtypes[gcol]))
            return out

        def new(c):
            return F.expr(set_exprs[c]).cast(dtypes[c])

        adds, seen = _write_files(
            spark, snap,
            assigned(lambda c: F.when(cond, new(c)).otherwise(F.col(c))),
            meta["partition_columns"],
            aggs=[F.sum(F.col(REWRITE_MARK).cast("long")).alias("numUpdatedRows")],
        )
        # CDF (Delta spec cdc action): exactly the changed rows as
        # update_preimage / update_postimage — the feed reports true
        # row-level updates instead of delete+insert pairs for every row
        # of the rewritten files. Work ∝ |matched rows|, not file size.
        cdc = []
        if _cdf_enabled(meta):
            post = assigned(new).where(F.col(REWRITE_MARK)).drop(REWRITE_MARK)
            change = df.where(cond).withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(post.withColumn("_change_type", F.lit("update_postimage")))
            cdc = [_cdc_action(table_path, _write_change_data(spark, table_path, change))]
        return adds, cdc, {"numUpdatedRows": int(seen.get("numUpdatedRows") or 0)}

    return _rewrite_matching(
        spark, snap, predicate, "UPDATE", "numUpdatedRows", rewrite
    )


# --------------------------------------------------------------------------
# Optimistic-concurrency conflict detection (the Delta conflict matrix).
# Every commit reads a snapshot first — write() and COPY INTO, DELETE /
# UPDATE / MERGE / DV-delete, the maintenance rewrites (OPTIMIZE,
# z-order, DV purge, REORG, RESTORE), the table-state changes (ALTER
# TABLE, CLUSTER BY, protocol upgrades, DROP FEATURE, sync markers) and
# the table creators (at version -1) — so a commit that lands between
# its read and its commit must be CHECKED, not blindly rebased:
#
#   winner action                 loser op outcome
#   -----------------------------------------------------------------
#   metaData / protocol change    MetadataChangedException
#   domainMetadata of a domain    MetadataChangedException (the loser's
#   the loser also writes         domain state was built from the old
#                                 one); delta.rowTracking excepted, as
#                                 _commit re-derives it per attempt
#   removed a file we removed     ConcurrentDeleteDeleteException
#   removed a file we read        ConcurrentDeleteReadException
#   added data files              ConcurrentAppendException (the new rows
#                                 might match our predicate — Serializable),
#                                 unless the loser read no table rows (no
#                                 read set passed: a metadata-only commit
#                                 has no predicate a new row could match)
#                                 or changes no data (every add/remove
#                                 dataChange=false): snapshot isolation,
#                                 as Delta's OPTIMIZE. A read set that is
#                                 EMPTY (an empty table was read) counts
#                                 as a read
#   deletion vector               ConcurrentDeleteReadException, unless
#                                 the loser read no table rows
#   txn of an appId the loser     ConcurrentTransactionException (two
#   also writes                   attempts of one streaming batch)
#   other txn / commitInfo only   safe: rebase to the next version
#
# Exception names mirror delta-io/delta's org.apache.spark.sql.delta.


class ConcurrentWriteConflict(RuntimeError):
    pass


class MetadataChangedException(ConcurrentWriteConflict):
    pass


class ConcurrentAppendException(ConcurrentWriteConflict):
    pass


class ConcurrentDeleteReadException(ConcurrentWriteConflict):
    pass


class ConcurrentDeleteDeleteException(ConcurrentWriteConflict):
    pass


class ConcurrentTransactionException(ConcurrentWriteConflict):
    pass


def check_commit_conflicts(
    table_path: str,
    base_version: int,
    read_files: set[str] | None,
    removed_files: set[str],
    actions: list[dict] | None = None,
) -> int:
    """Validate the commits that landed after ``base_version`` against
    this operation's read/remove sets (driver-side, |interleaved actions|
    work). Returns the rebased commit version to use, or raises the
    matching conflict exception. ``read_files`` None means the operation
    read no table rows (a blind write or a metadata-only commit); any
    set, an empty one
    included, is the live files it scanned. ``actions`` is the
    operation's own commit: appended rows or deletion vectors cannot
    invalidate it when it read no rows, appended rows cannot when it
    adds or removes files and every one of those actions is
    dataChange=false (a re-layout of rows it read), and a domain or a
    txn appId it writes must not have been written since."""
    read_rows = read_files is not None
    read_files = read_files or set()
    files = [a[k] for a in actions or () for k in ("add", "remove") if k in a]
    rearranges_only = bool(files) and not any(
        f.get("dataChange", True) for f in files
    )
    appends_conflict = read_rows and not rearranges_only
    domains = {
        a["domainMetadata"]["domain"] for a in actions or ()
        if "domainMetadata" in a
    } - {ROW_TRACKING_DOMAIN}
    app_ids = {a["txn"]["appId"] for a in actions or () if "txn" in a}
    current = current_version(table_path)
    for v in range(base_version + 1, current + 1):
        for act in log_replay.read_commit(table_path, v):
            if "metaData" in act or "protocol" in act:
                raise MetadataChangedException(
                    f"version {v} changed table metadata/protocol"
                )
            if (act.get("domainMetadata") or {}).get("domain") in domains:
                raise MetadataChangedException(
                    f"version {v} also wrote domain "
                    f"{act['domainMetadata']['domain']}"
                )
            if (act.get("txn") or {}).get("appId") in app_ids:
                raise ConcurrentTransactionException(
                    f"version {v} also committed txn appId "
                    f"{act['txn']['appId']}"
                )
            if "remove" in act:
                p = act["remove"]["path"]
                if p in removed_files:
                    raise ConcurrentDeleteDeleteException(
                        f"version {v} also removed {p}"
                    )
                if p in read_files:
                    raise ConcurrentDeleteReadException(
                        f"version {v} removed {p}, which this operation read"
                    )
            if "add" in act and act["add"].get("dataChange") and appends_conflict:
                raise ConcurrentAppendException(
                    f"version {v} added data files that may match this "
                    "operation's predicate"
                )
            if "dv" in act and read_rows:
                raise ConcurrentDeleteReadException(
                    f"version {v} committed a deletion vector over files "
                    "this operation may have read"
                )
    return current + 1


def commit_mutation(
    snap: log_replay.Snapshot,
    actions: list[dict],
    *,
    read_files: set[str] | None = None,
    removed_files: set[str] | None = None,
    max_retries: int = 10,
) -> int:
    """Put-if-absent commit of an operation against ``snap``, the base
    snapshot it checked and scanned — every commit of the package; a
    table creation passes its empty log's snapshot (version -1). Each
    attempt assigns row ids (``_assign_row_ids``). On a version
    collision, run the conflict matrix over the interleaved commits and
    either rebase (safe winners only: commitInfo-only commits and txn
    markers of other appIds, appends or deletion vectors under a commit
    that read no rows — it passes no ``read_files``, as a blind
    ``write`` does — and appends under a dataChange=false rewrite) or
    raise the typed conflict. After ``max_retries`` collisions the last
    one is raised."""
    table_path, base_version = snap.table_path, snap.version()
    removed_files = removed_files or set()
    version = base_version + 1
    for _ in range(max_retries):
        _assign_row_ids(snap, version, actions)
        try:
            _commit(table_path, version, actions)
            return version
        except RuntimeError as ex:
            if "concurrent commit" not in str(ex):
                raise
            collision = ex
            version = check_commit_conflicts(
                table_path, base_version, read_files, removed_files, actions
            )
    raise collision


COPY_INTO_DOMAIN = "delta.copyInto"


def copy_into(
    spark: SparkSession,
    table_path: str,
    source_dir: str,
    pattern: str = "*.parquet",
) -> dict:
    """``COPY INTO``: idempotent bulk ingest of external parquet files.
    Each source file is identified by (name, size, mtime-ns); the set of
    already-loaded identities lives in a ``domainMetadata`` action
    (``delta.copyInto``, keyed per source directory) and the data adds,
    the updated loaded-set, and the commitInfo land in ONE commit — so a
    replay after any crash either sees the file already in the loaded
    set (skipped) or re-attempts the whole batch atomically. Exactly
    Databricks COPY INTO's contract: files are never double-loaded, new
    files in a growing directory load incrementally.

    Scale: the loaded-set is |ingested files| metadata (the same planning
    cost every Delta log operation carries); reading the new files is a
    distributed scan; nothing else scales with table size.
    Returns ``{"numLoadedFiles", "numSkippedFiles", "version"}``.
    """
    import glob as _glob

    snap = _base_snapshot(spark, table_path)
    base_version = snap.version()
    meta = snap.metadata()
    logical_cols = [f["name"] for f in (meta.get("schema") or {})["fields"]]
    partition_by = meta.get("partition_columns") or []

    src_key = os.path.abspath(source_dir)
    cfg = snap.domain_metadata(COPY_INTO_DOMAIN) or {}
    loaded: dict = dict(cfg.get(src_key, {}))

    candidates = sorted(_glob.glob(os.path.join(source_dir, pattern)))
    new_paths = []
    upgraded = 0
    # Legacy (pre-ns) loaded-sets hold size:mtime-ms. The old ms value
    # may have been derived either as int(st_mtime * 1000) (float
    # rounding) or st_mtime_ns // 1e6, which can disagree by 1 ms for
    # some mtimes — accept size + ms within ±1 ms so neither derivation
    # silently re-ingests an already-loaded file. A ms value is always
    # < 1e15 (epoch ms ≈ 1.7e12 vs epoch ns ≈ 1.7e18), so legacy and ns
    # identities cannot be confused.
    def _is_legacy_match(recorded: str, st) -> bool:
        size_s, _, val_s = (recorded or "").partition(":")
        if not val_s.lstrip("-").isdigit():
            return False
        val = int(val_s)
        return (
            size_s == str(st.st_size)
            and val < 10**15
            and abs(val - st.st_mtime_ns // 1_000_000) <= 1
        )

    for p in candidates:
        st = os.stat(p)
        # Full-nanosecond mtime: a file rewritten with different content
        # but identical size within the same millisecond must re-ingest.
        ident = f"{st.st_size}:{st.st_mtime_ns}"
        name = os.path.basename(p)
        recorded = loaded.get(name)
        if recorded == ident:
            continue
        if recorded is not None and _is_legacy_match(recorded, st):
            loaded[name] = ident
            upgraded += 1
            continue
        new_paths.append((p, name, ident))
    if not new_paths:
        if upgraded:
            # Persist the ns-upgraded entries NOW (a metadata-only
            # commit) instead of re-deriving them on every run until a
            # new file happens to arrive.
            actions = [
                {
                    "domainMetadata": {
                        "domain": COPY_INTO_DOMAIN,
                        "configuration": json.dumps(
                            {**cfg, src_key: loaded}
                        ),
                        "removed": False,
                    }
                },
                _commit_info(
                    "COPY INTO",
                    {"source": src_key, "pattern": pattern},
                    {
                        "numFiles": 0,
                        "numOutputRows": 0,
                        "numSourceFiles": 0,
                        "numUpgradedIdentities": upgraded,
                    },
                ),
            ]
            upgrade = _protocol_upgrade_action(snap, "domainMetadata")
            if upgrade is not None:
                actions.insert(0, upgrade)
            version = commit_mutation(snap, actions)
        else:
            version = base_version
        return {
            "numLoadedFiles": 0,
            "numSkippedFiles": len(candidates),
            "version": version,
        }

    df = spark.read.parquet(*[p for p, _, _ in new_paths])
    missing = [c for c in logical_cols if c not in df.columns]
    extra = [c for c in df.columns if c not in logical_cols]
    if missing or extra:
        raise ValueError(
            f"COPY INTO schema mismatch: missing={missing} extra={extra}"
        )
    adds, _ = _write_files(spark, snap, df.select(*logical_cols), partition_by)

    for _, name, ident in new_paths:
        loaded[name] = ident
    actions: list[dict] = []
    upgrade = _protocol_upgrade_action(snap, "domainMetadata")
    if upgrade is not None:
        actions.append(upgrade)
    actions += adds
    n_records = sum(
        json.loads(a["add"]["stats"])["numRecords"] for a in adds
    )
    actions.append(
        {
            "domainMetadata": {
                "domain": COPY_INTO_DOMAIN,
                "configuration": json.dumps({**cfg, src_key: loaded}),
                "removed": False,
            }
        }
    )
    actions.append(
        _commit_info(
            "COPY INTO",
            {"source": src_key, "pattern": pattern},
            {
                "numFiles": len(adds),
                "numOutputRows": n_records,
                "numSourceFiles": len(new_paths),
            },
        )
    )
    # read at base_version: a concurrent COPY INTO also writes the
    # loaded-set domain, so this commit conflicts with it instead of
    # loading the same files twice
    version = commit_mutation(snap, actions)
    return {
        "numLoadedFiles": len(new_paths),
        "numSkippedFiles": len(candidates) - len(new_paths),
        "version": version,
    }


def drop_feature(spark: SparkSession, table_path: str, feature: str) -> int:
    """``ALTER TABLE ... DROP FEATURE`` (Delta 3.x): remove a table
    feature from the protocol so engines without that capability can
    read/write the table again. Refused while any trace of the feature
    is still live — the checks are the spec's:

    - ``deletionVectors``: no live file may carry pending DV positions
      (run REORG PURGE first) — readers that skip the DV anti-join would
      resurrect deleted rows;
    - ``columnMapping``: no field may carry a physicalName mapping and
      no dropped-column data may linger (REORG PURGE clears the files;
      renames cannot be un-mapped, so a renamed table keeps the feature);
    - ``changeDataFeed``: ``delta.enableChangeDataFeed`` is cleared from
      the table configuration IN THE SAME COMMIT as the protocol
      downgrade, so post-drop writers stop producing ``_change_data``
      files the downgraded protocol no longer declares;
    - ``v2Checkpoint``: if ``_last_checkpoint`` currently points at a V2
      (UUID + sidecar) checkpoint, the checkpoint is REWRITTEN in the
      classic V1 layout first — a downgraded external reader resolving
      ``_last_checkpoint`` must never land on a layout its protocol
      doesn't know;
    - writer-only bookkeeping features (``rowTracking``, ``clustering``,
      ``domainMetadata``, ``identityColumns``) drop freely — their state
      is ignorable by spec.

    History note: per the spec, commits BEFORE the drop may still
    contain the feature's actions; readers of old versions re-enter the
    feature-gated path. This matches Delta's two-phase
    ``DROP FEATURE TRUNCATE HISTORY`` flow where ``cleanup_log``
    (operators/maintenance.py) is the truncation half.
    """
    snap = _base_snapshot(spark, table_path)
    p = snap.protocol()
    reader_feats = set(p.get("readerFeatures") or [])
    writer_feats = set(p.get("writerFeatures") or [])
    if feature not in (reader_feats | writer_feats):
        raise ValueError(f"table does not declare feature {feature!r}")

    # the deletionVectors check reads the live files' vectors, so a
    # vector committed behind it conflicts; the other checks read only
    # metadata and protocol
    read_files = None
    if feature == "deletionVectors":
        read_files = {a["path"] for a in snap._live_adds()}
        n_live = sum(snap.dv_deleted_rows().values())
        if n_live:
            raise ValueError(
                f"cannot drop deletionVectors: {n_live} live DV "
                "positions remain — run reorg_purge first"
            )
    elif feature == "columnMapping":
        schema = snap.metadata().get("schema") or {}
        mapped = [
            f["name"]
            for f in schema.get("fields", [])
            if (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName"
            )
        ]
        if mapped:
            raise ValueError(
                f"cannot drop columnMapping: renamed columns {mapped} "
                "still map to physical names"
            )
    elif feature not in (
        "rowTracking", "clustering", "domainMetadata", "identityColumns",
        "v2Checkpoint", "changeDataFeed",
    ):
        raise ValueError(f"drop of feature {feature!r} not supported")

    extra_actions: list[dict] = []
    if feature == "changeDataFeed":
        meta = snap.metadata()
        config = dict(meta["configuration"])
        if config.pop("delta.enableChangeDataFeed", None) is not None:
            extra_actions.append(_metadata_action(meta, configuration=config))
    elif feature == "v2Checkpoint":
        lc = log_replay.last_checkpoint_info(table_path)
        if lc is not None and lc.get("format") == "v2":
            delta_log.DeltaLog(spark, table_path).checkpoint(format="v1")

    proto = {
        "minReaderVersion": p["minReaderVersion"],
        "minWriterVersion": p["minWriterVersion"],
    }
    if p["minReaderVersion"] >= 3:
        proto["readerFeatures"] = sorted(reader_feats - {feature})
    if p["minWriterVersion"] >= 7:
        proto["writerFeatures"] = sorted(writer_feats - {feature})
    actions = [
        {"protocol": proto},
        *extra_actions,
        _commit_info("DROP FEATURE", {"feature": feature}, {}),
    ]
    return commit_mutation(
        snap, actions, read_files=read_files
    )
