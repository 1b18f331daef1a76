"""Table maintenance: OPTIMIZE (compaction), VACUUM, Z-ORDER-style
clustering — the actions the reference only *recommends*
(delta_python_analyzer.py:232-243 sets needs_vacuum/needs_optimize; the
Databricks analyzer shells out to OPTIMIZE/VACUUM). Here they are real
operators against our own log format.

Scale notes: compaction reads only the small files (never the whole
table), bin-packs by total size, and writes with a partition count sized
to the target file size — the rewrite is a distributed job; the commit is
one JSON append. Vacuum plans on the driver: its candidates come from the
log replay's live set and tombstones plus one listing of the table folder,
with no Spark job.
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from delta_lake_health_spark.sources import delta_log, delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog

TARGET_FILE_SIZE = 128 * 1024 * 1024


def _table_target_file_size(snap: log_replay.Snapshot) -> int:
    """``delta.targetFileSize`` from the table configuration at ``snap``
    (bytes, or a '128mb'-style size string — both Delta conventions),
    else the 128 MiB default."""
    raw = (snap.metadata().get("configuration") or {}).get(
        "delta.targetFileSize"
    )
    if not raw:
        return TARGET_FILE_SIZE
    txt = str(raw).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                      ("b", 1)):
        if txt.endswith(suffix):
            txt, mult = txt[: -len(suffix)], m
            break
    try:
        return max(1, int(float(txt) * mult))
    except ValueError:
        return TARGET_FILE_SIZE


def _live_in_scope(
    spark: SparkSession, table_path: str, partition_filter: dict | None
) -> tuple[log_replay.Snapshot, list[dict]]:
    """(base snapshot, its live add actions whose logged partitionValues
    match ``partition_filter``) — the files an ``OPTIMIZE ... WHERE``
    may rewrite, from the driver-side log replay."""
    snap = delta_writer._base_snapshot(spark, table_path)
    want = {k: str(v) for k, v in (partition_filter or {}).items()}
    return snap, [
        a for a in snap._live_adds()
        if all((a.get("partitionValues") or {}).get(k) == v
               for k, v in want.items())
    ]


def _rewrite_files(
    spark: SparkSession,
    snap: log_replay.Snapshot,
    paths: list[str],
    df,
    operation: str,
    parameters: dict,
    removed_key: str = "numRemovedFiles",
    metrics: dict | None = None,
    tags: dict | None = None,
) -> dict:
    """Replace the live files ``paths`` of the base snapshot ``snap`` by
    the rows of ``df`` (read from ``snap``): one write through
    ``delta_writer._write_files`` (dataChange=false; the rows are the
    table's own, so they are not re-validated), the removes of ``paths`` and a ``commit_mutation``
    commit, which raises if a commit since ``snap`` removed or
    soft-deleted a file it read or changed the metadata, and rebases
    over appends. ``tags`` go on every new add. Returns the commit's
    metrics."""
    adds, _ = delta_writer._write_files(
        spark, snap, df, snap.metadata()["partition_columns"],
        data_change=False, validate=False,
    )
    if tags:
        for a in adds:
            a["add"]["tags"] = tags
    metrics = {removed_key: len(paths), "numAddedFiles": len(adds),
               **(metrics or {})}
    delta_writer.commit_mutation(
        snap,
        adds
        + delta_writer._remove_actions(paths, data_change=False)
        + [delta_writer._commit_info(operation, parameters, metrics)],
        read_files=set(paths),
        removed_files=set(paths),
    )
    return metrics


def compact(
    spark: SparkSession,
    table_path: str,
    small_file_size: int = 32 * 1024 * 1024,
    target_file_size: int | None = None,
    partition_filter: dict | None = None,
) -> dict:
    """Bin-pack files smaller than ``small_file_size`` into
    ~``target_file_size`` outputs (per partition directory), commit as
    OPTIMIZE. ``partition_filter`` scopes the rewrite to matching
    partitions (Delta's ``OPTIMIZE ... WHERE``) — evaluated on the LOG's
    partitionValues, so out-of-scope data is never read. Returns
    operation metrics.

    ``target_file_size=None`` resolves the table's
    ``delta.targetFileSize`` property (the Delta tuning knob), falling
    back to the 128 MiB default."""
    snap, live = _live_in_scope(spark, table_path, partition_filter)
    if target_file_size is None:
        target_file_size = _table_target_file_size(snap)
    small = [a for a in live if a["size"] < small_file_size]
    if len(small) < 2:
        return {"numRemovedFiles": 0, "numAddedFiles": 0, "skipped": True}

    total_size = sum(a["size"] for a in small)
    n_out = max(1, math.ceil(total_size / target_file_size))
    paths = [a["path"] for a in small]

    # DV-aware read: compacting raw parquet would resurrect soft-deleted rows
    df = delta_log.read_files(spark, snap, paths)
    cluster_cols = delta_writer.clustering_columns(snap)
    if cluster_cols:
        # liquid-clustered table (r13): a blind repartition would merge
        # narrow key ranges into wide ones and erase the file pruning
        # the clustering exists for — range-sort the compacted subset by
        # the declared (logical) columns instead (same cost class, one
        # range shuffle of the small files only)
        df = df.repartitionByRange(n_out, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
    else:
        df = df.repartition(n_out)
    return _rewrite_files(
        spark, snap, paths, df, "OPTIMIZE",
        {"targetSize": target_file_size,
         **({"predicate": str(partition_filter)} if partition_filter else {})},
        metrics={"numRemovedBytes": total_size},
    )


def vacuum(
    spark: SparkSession,
    table_path: str,
    retention_hours: float = 168.0,
    dry_run: bool = False,
    mode: str = "full",
) -> dict:
    """Physically delete unreferenced data files older than the retention
    window: files on disk that are not in the live set AND whose latest
    log action is a sufficiently old remove (or that never appear in the
    log at all — true orphans, aged by file mtime).

    Also deletes deletion-vector sidecar directories no longer referenced
    by any retained ``dv`` action (``checkpoint`` drops vectors whose
    target files are all dead; the sidecars then age out here by mtime,
    so time travel within the retention window keeps working).

    ``mode="lite"`` (Delta 3.3's VACUUM LITE): candidates come from the
    LOG's retained remove tombstones alone — no recursive table-folder
    listing, which on object storage at 100 TB is the dominant cost of a
    full vacuum (one LIST per ~1000 keys across millions of files).
    Lite cannot see true orphans (files never committed to the log, e.g.
    a crashed writer's debris) — run a periodic full vacuum for those;
    every tombstoned file is still collected exactly as in full mode."""
    if mode not in ("full", "lite"):
        raise ValueError(f"vacuum mode must be 'full' or 'lite': {mode!r}")
    snap = log_replay.table_snapshot(table_path)
    # the vacuumProtocolCheck table feature's mandate: VACUUM must
    # consult the full protocol (reader AND writer gates) before
    # touching any file — deleting by a stale live-set under an
    # ununderstood feature would destroy data. Both gates, the live
    # set, the tombstones and the vector references read one snapshot
    delta_log.require_readable(snap)
    delta_writer._require_writable(snap)
    cutoff_ms = int((time.time() - retention_hours * 3600) * 1000)

    tombs = snap.tombstones()
    if mode == "lite":
        # log-only: tombstoned paths past retention that still exist
        # (same aging rule as full mode: deletionTimestamp, mtime
        # fallback). Paths OUTSIDE the table root are skipped: a shallow
        # clone's tombstones reference the SOURCE table's files by
        # absolute path, and deleting those would corrupt the source —
        # full mode is immune because its candidates come from the
        # clone's own folder listing, and lite must match that contract.
        root = os.path.abspath(table_path)
        candidates = []
        for rel, del_ts in tombs.items():
            fp = os.path.abspath(os.path.join(table_path, rel))
            if os.path.commonpath([root, fp]) != root:
                continue
            if not os.path.isfile(fp):
                continue
            aged = (del_ts if del_ts is not None
                    else int(os.path.getmtime(fp) * 1000))
            if aged <= cutoff_ms:
                candidates.append(rel)
    else:
        live = {a["path"] for a in snap._live_adds()}
        dead = [
            (rel, tombs.get(rel))
            for rel in delta_writer._list_parquet_rel(table_path)
            if rel not in live
        ]
        # inclusive cutoff: a tombstone stamped in the same millisecond as
        # a zero-retention cutoff is already "past retention" (write
        # always precedes the vacuum call)
        candidates = [
            rel
            for rel, del_ts in dead
            if (del_ts if del_ts is not None
                else int(os.path.getmtime(
                    os.path.join(table_path, rel)) * 1000))
            <= cutoff_ms
        ]
    # DV sidecar dirs referenced by no retained dv action (dropped at
    # checkpoint time) are dead weight once past the retention window
    referenced = set(snap.deletion_vector_paths())
    deletes_root = os.path.join(table_path, delta_writer.DELETES_DIR)
    dead_sidecars = []
    if os.path.isdir(deletes_root):
        for d in sorted(os.listdir(deletes_root)):
            rel = f"{delta_writer.DELETES_DIR}/{d}"
            full = os.path.join(deletes_root, d)
            if rel not in referenced and (
                os.path.getmtime(full) * 1000 <= cutoff_ms
            ):
                dead_sidecars.append(rel)

    if not dry_run:
        import shutil

        for rel in candidates:
            fp = os.path.join(table_path, rel)
            if os.path.isfile(fp):
                os.remove(fp)
        for rel in dead_sidecars:
            shutil.rmtree(os.path.join(table_path, rel), ignore_errors=True)
        # a history record of deletions already made: it reads nothing
        # a later commit could invalidate, so its base is a fresh
        # snapshot and only a simultaneous commit is checked
        delta_writer.commit_mutation(
            log_replay.Snapshot(table_path),
            [
                delta_writer._commit_info(
                    "VACUUM END",
                    {"retentionHours": retention_hours, "mode": mode},
                    {"numDeletedFiles": len(candidates),
                     "numDeletedDvSidecars": len(dead_sidecars)},
                )
            ],
        )
    return {"numDeletedFiles": len(candidates), "files": sorted(candidates),
            "numDeletedDvSidecars": len(dead_sidecars),
            "dvSidecars": dead_sidecars, "dryRun": dry_run,
            "mode": mode}


def apply_deletion_vectors(spark: SparkSession, table_path: str) -> dict:
    """Materialize pending deletion vectors: rewrite only the files that
    have soft-deleted positions (dropping those rows), commit
    remove+add. Retired vectors then reference dead files and become
    no-ops for every reader. The rewrite cost is |affected files|, not
    table size — the purge half of the DV bargain."""
    snap = delta_writer._base_snapshot(spark, table_path)
    affected = sorted(snap.dv_deleted_rows())
    if not affected:
        return {"numRewrittenFiles": 0, "numAddedFiles": 0, "skipped": True}
    return _rewrite_files(
        spark, snap, affected, delta_log.read_files(spark, snap, affected),
        "APPLY DELETION VECTORS", {}, removed_key="numRewrittenFiles",
    )


Z_BITS = 16  # per-column bit budget for the interleaved z-value


def _zvalue_column(df, cluster_cols: list[str]):
    """Bit-interleaved z-value over the cluster columns.

    Each column is min/max-scaled to a Z_BITS-bit integer (one tiny agg,
    scalars to the driver — this is a maintenance op), then the bits are
    interleaved (col i contributes bit b to position b*ncols+i). Sorting
    by this value gives genuine multi-dimensional locality: every
    clustered column gets narrow per-file min/max intervals, not just the
    leading one as with lexicographic sort."""
    ncols = len(cluster_cols)
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{i}") for i, c in enumerate(cluster_cols)],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{i}") for i, c in enumerate(cluster_cols)],
    ).collect()[0]
    max_code = (1 << Z_BITS) - 1
    # ONE expression string instead of ~2 x Z_BITS x 6 Column objects:
    # building the interleave per-bit in Python cost ~1,600 py4j round
    # trips (~2.4 s of the 6 s zorder wall at r14 profiling); the SQL
    # text is identical arithmetic, so z-values — and therefore file
    # layout — are unchanged. Each column's scaled code is named once
    # via a higher-order-function-free nested expression (codegen CSEs
    # the repeated code subtree).
    terms = []
    for i, c in enumerate(cluster_cols):
        # null (all-null column) and NaN/±Inf bounds fall back to 0.0:
        # repr() of a non-finite float is not a SQL literal
        lo, hi = (
            float(b) if b is not None and math.isfinite(b) else 0.0
            for b in (bounds[f"lo_{i}"], bounds[f"hi_{i}"])
        )
        span = (hi - lo) if math.isfinite(hi - lo) and hi != lo else 1.0
        # clamped in DOUBLE before the cast: a NaN/±Inf row would
        # overflow the BIGINT cast (NaN sorts above every double, so it
        # clamps to max_code; null rows also get max_code, as before)
        code = (
            f"CAST(greatest(CAST(0 AS DOUBLE), least(CAST({max_code} AS DOUBLE), "
            f"(CAST(`{c}` AS DOUBLE) - CAST({lo!r} AS DOUBLE)) "
            f"/ CAST({span!r} AS DOUBLE) * {max_code})) AS BIGINT)"
        )
        for b in range(Z_BITS):
            terms.append(
                f"(CAST(shiftright({code}, {b}) & 1 AS BIGINT) "
                f"* CAST({1 << (b * ncols + i)} AS BIGINT))"
            )
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def zorder_cluster(
    spark: SparkSession,
    table_path: str,
    cluster_cols: list[str] | None = None,
    target_file_size: int | None = None,
    interleaved: bool = True,
    partition_filter: dict | None = None,
    incremental: bool = False,
) -> dict:
    """Z-ORDER clustering rewrite. With ``interleaved`` (default) rows are
    range-partitioned and sorted by a true bit-interleaved z-value, so
    min/max file stats become selective for EVERY cluster column
    (multi-dimensional locality, like Databricks OPTIMIZE ZORDER);
    ``interleaved=False`` falls back to lexicographic range-partitioning,
    which only narrows the leading column. Rewrites the live set —
    scoped to matching partitions when ``partition_filter`` is given
    (``OPTIMIZE ... WHERE ... ZORDER BY``) — and commits as OPTIMIZE.

    ``incremental=True`` (Delta's ZCUBE behavior): files written by a
    previous z-order over the SAME columns (recorded in ``add.tags``)
    are left alone, so periodic maintenance rewrites only the data
    appended since the last run — at 100 TB this is the difference
    between clustering the daily delta and re-clustering the table.

    ``cluster_cols=None`` reads the table's DECLARED liquid-clustering
    columns (``set_cluster_columns``) — the bare ``OPTIMIZE`` of a
    clustered table."""
    snap, live = _live_in_scope(spark, table_path, partition_filter)
    if cluster_cols is None:
        cluster_cols = delta_writer.clustering_columns(snap)
        if not cluster_cols:
            raise ValueError(
                "no cluster_cols given and the table declares no "
                "clustering columns (set_cluster_columns)"
            )
    if target_file_size is None:
        target_file_size = _table_target_file_size(snap)
    zorder_by = json.dumps(sorted(cluster_cols))
    if incremental and live:
        # ZCUBE members: live files whose add carries a tag for the same
        # column set
        n_live = len(live)
        live = [a for a in live
                if (a.get("tags") or {}).get("ZCUBE_ZORDER_BY") != zorder_by]
        if not live:
            return {"numRemovedFiles": 0, "numAddedFiles": 0,
                    "skipped": True, "alreadyClustered": n_live}
    if not live:
        return {"numRemovedFiles": 0, "numAddedFiles": 0, "skipped": True}
    total_size = sum(a["size"] for a in live)
    n_out = max(1, math.ceil(total_size / target_file_size))
    paths = [a["path"] for a in live]

    df = delta_log.read_files(spark, snap, paths)
    if interleaved and len(cluster_cols) > 1:
        zed = df.withColumn("_zval", _zvalue_column(df, cluster_cols))
        clustered = (
            zed.repartitionByRange(n_out, "_zval")
            .sortWithinPartitions("_zval")
            .drop("_zval")
        )
    else:
        clustered = df.repartitionByRange(n_out, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
    return _rewrite_files(
        spark, snap, paths, clustered, "OPTIMIZE",
        {"zOrderBy": ",".join(cluster_cols),
         **({"incremental": True} if incremental else {})},
        # membership for incremental runs
        tags={"ZCUBE_ID": uuid.uuid4().hex, "ZCUBE_ZORDER_BY": zorder_by},
    )


def hilbert_cluster(
    spark: SparkSession,
    table_path: str,
    cluster_cols: list[str],
    target_file_size: int | None = None,
    bits: int | None = None,
    partition_filter: dict | None = None,
) -> dict:
    """OPTIMIZE by HILBERT curve — the tighter-locality alternative to
    :func:`zorder_cluster` (what Databricks liquid clustering moved to):
    the Hilbert curve advances one grid step at a time instead of
    jumping at every power-of-two boundary like Z-order, so per-file
    min/max bounding boxes are tighter and range predicates prune more
    files (quantified in tests/test_hilbert.py: per-file span sums vs
    the Z-order rewrite of the same table).

    Same commit protocol as Z-order: rewrite the live set (scoped by
    ``partition_filter``), remove+add with dataChange=false so CDF and
    streaming readers skip it. Each cluster column min/max-scales to a
    ``bits``-wide grid coordinate (one tiny agg — a maintenance op);
    the key itself computes inside ``mapInArrow``
    (vectorized Skilling transform, operators/hilbert.py) because the
    curve's data-dependent per-bit exchanges have no Column-expression
    form; the rewrite is IO-bound so the Arrow hop is noise.
    ``bits`` defaults to the largest budget that fits the 63-bit key
    (floor(63 / n_cols), capped at Z_BITS)."""
    from delta_lake_health_spark.operators.hilbert import hilbert_index

    if not cluster_cols or len(cluster_cols) < 2:
        raise ValueError("hilbert_cluster needs >= 2 cluster columns")
    ncols = len(cluster_cols)
    if bits is None:
        bits = min(Z_BITS, 63 // ncols)
    if bits * ncols > 63:
        raise ValueError(f"bits*cols = {bits * ncols} exceeds the 63-bit key")
    snap, live = _live_in_scope(spark, table_path, partition_filter)
    if target_file_size is None:
        target_file_size = _table_target_file_size(snap)
    if not live:
        return {"numRemovedFiles": 0, "numAddedFiles": 0, "skipped": True}
    total_size = sum(a["size"] for a in live)
    n_out = max(1, math.ceil(total_size / target_file_size))
    paths = [a["path"] for a in live]

    df = delta_log.read_files(spark, snap, paths)
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"lo_{i}")
          for i, c in enumerate(cluster_cols)],
        *[F.max(F.col(c).cast("double")).alias(f"hi_{i}")
          for i, c in enumerate(cluster_cols)],
    ).collect()[0]
    max_code = (1 << bits) - 1
    coded = df
    for i, c in enumerate(cluster_cols):
        # as in _zvalue_column: null and NaN/±Inf bounds fall back to
        # 0.0, and the code is clamped in DOUBLE before the BIGINT cast
        # (a NaN/±Inf row would overflow the cast; NaN clamps to max)
        lo, hi = (
            float(b) if b is not None and math.isfinite(b) else 0.0
            for b in (bounds[f"lo_{i}"], bounds[f"hi_{i}"])
        )
        span = (hi - lo) if math.isfinite(hi - lo) and hi != lo else 1.0
        coded = coded.withColumn(
            f"_hc_{i}",
            F.greatest(
                F.lit(0.0),
                F.least(
                    F.lit(float(max_code)),
                    (F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
                    * max_code,
                ),
            ).cast("long"),
        )
    code_cols = [f"_hc_{i}" for i in range(ncols)]
    out_schema = coded.drop(*code_cols).schema.add("_hkey", "long")

    def keyed(batches):
        # Arrow batches, not pandas: the pandas hop would turn a NaN
        # cluster value into null
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            codes = np.stack(
                [batch.column(c).to_numpy().astype("int64") for c in code_cols],
                axis=1,
            )
            keep = [n for n in batch.schema.names if n not in code_cols]
            key = (
                hilbert_index(codes, bits).astype("int64")
                if batch.num_rows
                else np.empty(0, dtype="int64")
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(n) for n in keep] + [pa.array(key)],
                names=keep + ["_hkey"],
            )

    clustered = (
        coded.mapInArrow(keyed, out_schema)
        .repartitionByRange(n_out, "_hkey")
        .sortWithinPartitions("_hkey")
        .drop("_hkey")
    )
    return _rewrite_files(
        spark, snap, paths, clustered, "OPTIMIZE",
        {"hilbertBy": ",".join(cluster_cols), "bits": str(bits)},
    )


def compute_stats(spark: SparkSession, table_path: str) -> dict:
    """ANALYZE-style stats backfill: re-emit add actions (with fresh
    footer-derived min/max/numRecords stats) for live files whose logged
    ``stats`` are missing or empty — e.g. a table written by a
    stats-less foreign writer, where every scan plan falls back to
    conservative keep-everything skipping. Metadata-only: reads parquet
    FOOTERS, never data; the re-adds pair with same-version removes and
    keep the files' tags and row ids (``delta_writer._readd_actions``,
    shared with the row-tracking backfill). Returns
    ``{"numFilesBackfilled": n}``."""
    snap = delta_writer._base_snapshot(spark, table_path)
    need = [
        a for a in snap._live_adds()
        if log_replay._num_records(a.get("stats")) is None
    ]
    if not need:
        return {"numFilesBackfilled": 0}
    delta_writer.commit_mutation(
        snap,
        delta_writer._readd_actions(table_path, need)
        + [delta_writer._commit_info(
            "COMPUTE STATISTICS", {}, {"numFilesBackfilled": len(need)}
        )],
        read_files={a["path"] for a in need},
        removed_files={a["path"] for a in need},
    )
    return {"numFilesBackfilled": len(need)}


def restore(spark: SparkSession, table_path: str, to_version: int) -> dict:
    """RESTORE TABLE ... TO VERSION AS OF ``to_version`` (Delta RESTORE,
    delta-rs ``restore``): one commit that re-adds every file live at the
    target version and removes every file added since — metadata-only, no
    data movement, exactly like Delta's implementation. Time-travel reads
    of the pre-restore state keep working (the log is append-only).

    Two non-metadata cases:
    - a required file was vacuumed away -> raise (same as Delta when the
      retention window has passed);
    - a restored file was soft-deleted by a LATER deletion vector. dv
      actions can't be un-committed, so those files are rewritten from
      their as-of content (DVs at or before ``to_version`` applied, later
      ones ignored) — cost is |tainted files|, not table size.

    If the schema evolved after ``to_version``, the target version's
    metaData is re-emitted so readers reconstruct the restored schema.
    """
    snap = delta_writer._base_snapshot(spark, table_path)
    delta_writer._refuse_append_only(snap, "RESTORE")
    cur_version = snap.version()
    if to_version < 0 or to_version > cur_version:
        raise ValueError(
            f"cannot restore to version {to_version}: table is at {cur_version}"
        )
    old_live = {a["path"] for a in snap._live_adds(to_version)}
    cur_live = {a["path"] for a in snap._live_adds()}
    missing = [
        p for p in sorted(old_live)
        if not os.path.isfile(os.path.join(table_path, p))
    ]
    if missing:
        raise RuntimeError(
            f"cannot restore to version {to_version}: {len(missing)} required "
            f"file(s) were vacuumed (first: {missing[0]})"
        )

    # files live at the target whose rows were soft-deleted AFTER it
    late_dv = [
        a["dv"]["path"]
        for v in snap.versions
        if v > to_version
        for a in log_replay.read_commit(table_path, v)
        if a.get("dv") is not None
    ]
    # A sidecar that checkpoint-GC retired and vacuum physically deleted
    # can be skipped, not failed on: GC only drops a dv action once its
    # target file is dead (rewritten by apply_deletion_vectors or
    # removed), so a vanished sidecar cannot taint any old_live file —
    # the vacuumed-file guard above already caught the cases where the
    # restore target itself is gone.
    late_dv = [  # sidecars are parquet directories -> exists, not isfile
        p for p in late_dv if os.path.exists(os.path.join(table_path, p))
    ]
    tainted: set[str] = set()
    if late_dv:
        dvdf = delta_log.read_deletion_vectors(spark, table_path, late_dv)
        tainted = {
            r.rel_path
            for r in dvdf.select("rel_path").distinct().collect()
            if r.rel_path in old_live
        }

    old_meta = snap.metadata(as_of=to_version)
    partition_by = old_meta.get("partition_columns", [])
    rewritten: list[dict] = []
    if tainted:
        # the files' own (physical) columns, as of ``to_version``: a
        # copy of committed rows, not re-validated
        df = spark.read.option("basePath", table_path).parquet(
            *[os.path.join(table_path, p) for p in sorted(tainted)]
        )
        early_dv = delta_log.read_deletion_vectors(
            spark, table_path, snap.deletion_vector_paths(to_version)
        )
        if early_dv is not None:
            out_cols = df.columns
            df = delta_log._drop_deleted(
                delta_log._with_lineage(df, table_path), early_dv
            ).select(*out_cols)
        rewritten, _ = delta_writer._write_files(
            spark, snap, df, partition_by, validate=False, physical=False
        )

    readds = sorted((old_live - cur_live) - tainted)
    removes = sorted((cur_live - old_live) | (tainted & cur_live))
    actions: list[dict] = []
    if old_meta and old_meta.get("schema") != snap.metadata().get("schema"):
        actions.append(delta_writer._metadata_action(old_meta))
    actions += [delta_writer._add_action(table_path, rel) for rel in readds]
    actions += rewritten + delta_writer._remove_actions(removes)
    metrics = {
        "numRestoredFiles": len(readds),
        "numRemovedFiles": len(removes),
        "numRewrittenFiles": len(tainted),
    }
    actions.append(
        delta_writer._commit_info("RESTORE", {"version": to_version}, metrics)
    )
    delta_writer.commit_mutation(
        snap, actions,
        read_files=cur_live, removed_files=set(removes),
    )
    return metrics


def cleanup_log(
    spark: SparkSession, table_path: str, retention_hours: float = 168.0
) -> dict:
    """Expire pre-checkpoint log history (Delta's metadata cleanup /
    ``delta.logRetentionDuration``): commit JSONs BELOW the last
    checkpoint version whose mtime is past the retention cutoff are
    deleted, along with superseded checkpoint parquet sets. The current
    checkpoint + trailing JSONs fully reconstruct the table, so normal
    reads are untouched; time travel and change feeds become bounded by
    the retained window (``DeltaLog.require_history_from`` raises a
    clear error instead of silently replaying a truncated log)."""
    import re

    snap = log_replay.table_snapshot(table_path)
    info = snap.info
    if info is None:
        return {"numDeletedJson": 0, "numDeletedCheckpointFiles": 0}
    ckpt_version = snap.checkpoint
    cutoff = time.time() - retention_hours * 3600.0
    log_dir = os.path.join(table_path, "_delta_log")

    expired = [v for v in snap.versions if v < ckpt_version and os.path.getmtime(
        log_replay.commit_path(table_path, v)) <= cutoff]
    for v in expired:
        os.remove(log_replay.commit_path(table_path, v))
        # the expired commit's version checksum goes with it
        crc = os.path.join(log_dir, f"{v:020d}.crc")
        if os.path.isfile(crc):
            os.remove(crc)

    # superseded checkpoints: classic, multi-part, and V2 UUID names
    ckpt_re = re.compile(
        r"^(\d{20})\.checkpoint(\.\d+\.\d+|\.[0-9a-f]{32})?\.parquet$"
    )
    deleted_ckpt = 0
    for f in sorted(os.listdir(log_dir)):
        m = ckpt_re.match(f)
        if m and int(m.group(1)) < ckpt_version:
            p = os.path.join(log_dir, f)
            if os.path.getmtime(p) <= cutoff:
                os.remove(p)
                deleted_ckpt += 1

    # V2 sidecars no longer referenced by the CURRENT checkpoint (the
    # only checkpoint that survives above) are dead once past retention
    sidecar_dir = os.path.join(log_dir, "_sidecars")
    deleted_sidecars = 0
    if os.path.isdir(sidecar_dir):
        referenced = set(log_replay.sidecar_names(table_path, info))
        for f in sorted(os.listdir(sidecar_dir)):
            p = os.path.join(sidecar_dir, f)
            if f not in referenced and os.path.getmtime(p) <= cutoff:
                os.remove(p)
                deleted_sidecars += 1

    return {
        "numDeletedJson": len(expired),
        "numDeletedCheckpointFiles": deleted_ckpt,
        "numDeletedSidecars": deleted_sidecars,
        "retainedFromVersion": min(set(snap.versions) - set(expired), default=0),
    }


def generate_symlink_manifest(spark: SparkSession, table_path: str) -> dict:
    """``GENERATE symlink_format_manifest`` (Delta's Presto/Athena/Trino
    interop): write ``_symlink_format_manifest/[partition dirs/]manifest``
    text files listing the ABSOLUTE paths of exactly the table's live
    data files, one per line, partition-directory structure mirrored —
    engines without a Delta reader then query the table as an external
    Hive table over the manifests. Stale manifest directories for
    partitions that no longer exist are removed (the spec's overwrite
    semantics). Refuses tables with live deletion vectors: a manifest
    points at whole files, so soft-deleted rows would resurrect."""
    import shutil as _shutil

    snap = log_replay.table_snapshot(table_path)
    if sum(snap.dv_deleted_rows().values()) > 0:
        raise ValueError(
            "cannot generate a symlink manifest while deletion vectors "
            "are live (manifests reference whole files); run "
            "apply_deletion_vectors first"
        )
    part_cols = snap.metadata().get("partition_columns", [])
    by_partition: dict[str, list[str]] = {}
    for a in snap._live_adds():
        rel = a["path"]
        abs_path = (
            rel if os.path.isabs(rel) else os.path.join(table_path, rel)
        )
        # partition directory from the LOG's partitionValues, not the
        # file path — shallow-cloned tables hold absolute paths whose
        # directory layout belongs to the SOURCE tree, and the log is
        # the spec's source of truth for partition membership
        vals = dict(a.get("partitionValues") or {})
        part_dir = "/".join(
            delta_writer._partition_dir(c, vals.get(c)) for c in part_cols
        ) if part_cols else ""
        by_partition.setdefault(part_dir, []).append(os.path.abspath(abs_path))

    root = os.path.join(table_path, "_symlink_format_manifest")
    _shutil.rmtree(root, ignore_errors=True)
    n_files = 0
    for part_dir, paths in sorted(by_partition.items()):
        out_dir = os.path.join(root, part_dir) if part_dir else root
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "manifest"), "w") as f:
            for p in sorted(paths):
                f.write("file:" + p + "\n")
                n_files += 1
    return {"numManifestFiles": len(by_partition), "numDataFiles": n_files}


def fsck_repair(
    spark: SparkSession, table_path: str, dry_run: bool = False
) -> dict:
    """``FSCK REPAIR TABLE``: drop add actions whose data files no
    longer exist on storage (deleted out-of-band, a lost bucket prefix,
    a botched manual cleanup), so reads stop failing at scan time.
    Like Delta's FSCK, the removes carry ``dataChange = true`` — rows
    genuinely disappeared from the table's visible state. Metadata-only:
    one existence probe per LIVE file (parallelizable one-task-per-file
    at cluster scale; no data read) and one O(|missing|) commit.
    ``dry_run`` reports without committing. Returns
    ``{"numMissingFiles": n, "repaired": bool}``."""
    snap = delta_writer._base_snapshot(spark, table_path)
    live = [a["path"] for a in snap._live_adds()]
    missing = [
        p
        for p in live
        if not os.path.exists(
            p if os.path.isabs(p) else os.path.join(table_path, p)
        )
    ]
    if dry_run or not missing:
        return {"numMissingFiles": len(missing), "repaired": False}
    delta_writer.commit_mutation(
        snap,
        delta_writer._remove_actions(missing)
        + [delta_writer._commit_info(
            "FSCK", {"dryRun": "false"}, {"numRemovedFiles": len(missing)}
        )],
        read_files=set(live),
        removed_files=set(missing),
    )
    return {"numMissingFiles": len(missing), "repaired": True}


def reorg_purge(spark: SparkSession, table_path: str) -> dict:
    """``REORG TABLE ... APPLY (PURGE)``: rewrite exactly the files that
    still carry soft-deleted rows (deletion vectors) or physical data of
    columns dropped under column mapping, so the table can later be read
    by engines without those reader features and VACUUM can reclaim the
    dead bytes. Two halves, both |affected files|-bounded — never a full
    table rewrite:

    1. DV half: delegate to :func:`apply_deletion_vectors` (rewrites only
       DV-carrying files, dropping the soft-deleted positions).
    2. Dropped-column half: probe each live file's parquet FOOTER (one
       metadata read per file, no data scan — a per-file task at cluster
       scale) for physical columns absent from the current physical
       schema; rewrite those files through ``delta_log.read_files`` (which
       selects only the current physical schema) and commit remove+add
       with ``dataChange = false``.

    Reference parity: Delta's REORG TABLE (delta-io PR #1732); the
    reference's delta-rs backend exposes the same cleanup pressure via
    needs_vacuum (delta_python_analyzer.py:232-243).
    Returns ``{"numDvFilesRewritten", "numPurgedFiles", "numAddedFiles"}``.
    """
    import pyarrow.parquet as pq

    # the DV half gates the protocol and commits first; the purge half
    # reads the table as it left it
    dv_metrics = apply_deletion_vectors(spark, table_path)
    snap = delta_writer._base_snapshot(spark, table_path)
    meta = snap.metadata()
    schema = meta.get("schema") or {}
    physical = {
        (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        for f in schema.get("fields", [])
    }
    keep = physical | set(meta["partition_columns"])
    live_rel = [a["path"] for a in snap._live_adds()]

    def _probe(batches):
        # One parquet FOOTER read per file, executed as distributed
        # tasks over the live-file list (never a serial driver loop —
        # a million-file table probes with |files|/batch tasks).
        import pandas as pd

        for pdf in batches:
            out_paths = []
            for rel, full in zip(pdf["rel_path"], pdf["full_path"]):
                if set(pq.read_schema(full).names) - keep:
                    out_paths.append(rel)
            yield pd.DataFrame({"rel_path": out_paths})

    if live_rel:
        probe_df = spark.createDataFrame(
            [(rel, os.path.join(table_path, rel)) for rel in live_rel],
            "rel_path string, full_path string",
        ).repartition(min(32, len(live_rel)))
        stale = [
            r.rel_path
            for r in probe_df.mapInPandas(
                _probe, "rel_path string"
            ).collect()
        ]
    else:
        stale = []
    out = {
        "numDvFilesRewritten": dv_metrics.get("numRewrittenFiles", 0),
        "numPurgedFiles": len(stale),
        "numAddedFiles": dv_metrics.get("numAddedFiles", 0),
    }
    if not stale:
        return out

    stale = sorted(stale)
    metrics = _rewrite_files(
        spark, snap, stale, delta_log.read_files(spark, snap, stale), "REORG",
        {"applyPurge": "true"}, removed_key="numPurgedFiles",
    )
    out["numAddedFiles"] += metrics["numAddedFiles"]
    return out


def restore_to_timestamp(spark: SparkSession, table_path: str, ts) -> dict:
    """RESTORE TABLE ... TO TIMESTAMP AS OF: resolve the timestamp to
    the newest commit at-or-before it with the same adjusted-clock rules
    as read-side time travel (``DeltaLog.version_at_timestamp``), then
    delegate to :func:`restore`. Accepts whatever the read path accepts
    (datetime / ISO string / epoch millis)."""
    log = DeltaLog(spark, table_path)
    return restore(spark, table_path, log.version_at_timestamp(ts))
