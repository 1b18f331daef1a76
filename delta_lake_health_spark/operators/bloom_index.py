"""Per-file Bloom-filter file-skipping index (Delta's bloom filter
index / Parquet bloom pages, re-expressed over our log).

Min/max stats skipping (``DeltaLog.pruned_files``) is useless for point
lookups on high-cardinality, unclustered columns — every file's
[min, max] spans the probe value. A per-file Bloom filter answers
"might this FILE contain value v?" from a sidecar bitmap without
touching data: the classic needle-in-100-TB primitive (find one
user_id / order key across a million files by reading |files| x 8 KiB
of index instead of the table).

Layout: ``<table>/_delta_index/bloom_<column>/`` holds a parquet of
(rel_path, bitmap) plus ``_meta.json`` (underscore-prefixed so parquet
readers skip it) with column, m_bits, k, and the snapshot version at
build. Correctness contract:

- **Zero false negatives** for indexed files (Bloom property — probing
  can only over-approximate the candidate set).
- Files WITHOUT an index entry (appended/rewritten after the build) are
  conservatively KEPT — a stale index degrades to a full scan, never to
  a wrong answer. Rebuilds are incremental-friendly: only missing files
  need new bitmaps.

Scale: the build is one distributed pass (shuffle on file lineage, one
8 KiB bitmap per file — same shape as OPTIMIZE's stats backfill); the
probe runs the bitmap tests DISTRIBUTED over the sidecar parquet (a
million-file table carries ~8 GiB of bitmaps, never driver memory —
only path strings and the surviving set reach the driver), then scans
only the surviving files with deletion vectors applied.

Determinism: SplitMix64 over FNV-1a-folded utf-8 (operators/bloom.py) —
no RNG, no platform dependence.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_health_spark.operators import bloom
from delta_lake_health_spark.sources import delta_log, log_replay

INDEX_ROOT = "_delta_index"
DEFAULT_M_BITS = 1 << 16  # 8 KiB per file


def _index_dir(table_path: str, column: str) -> str:
    return os.path.join(table_path, INDEX_ROOT, f"bloom_{column}")


def _has_bitmap_data(idx_dir: str) -> bool:
    """True when the sidecar holds at least one parquet data file. A
    build over a table with ZERO live files legitimately leaves only
    _meta.json behind; ``spark.read.parquet`` on such a directory throws,
    so both the refresh-reuse path and the probe must gate on this."""
    if not os.path.isdir(idx_dir):
        return False
    return any(f.endswith(".parquet") for f in os.listdir(idx_dir))


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    column: str,
    m_bits: int = DEFAULT_M_BITS,
) -> dict:
    """Build or INCREMENTALLY refresh the sidecar: bitmaps are computed
    only for live files MISSING from the existing index (the data scan —
    the expensive half — touches exactly those files, via the
    ``rel_paths`` plan-time file list of ``delta_log.read_files``);
    entries for dead files are dropped. The version, the live set and
    the scan come from one snapshot. A refresh after appending k
    files to a million-file table reads k files, not the table. The
    first build (or an m_bits/k change) computes everything. Returns
    ``{"numIndexedFiles", "mBits", "k", "version", "numNewBitmaps",
    "numDroppedEntries"}``."""
    import shutil

    snap = log_replay.table_snapshot(table_path)
    version = snap.version()
    live = {a["path"] for a in snap._live_adds()}
    idx_dir = _index_dir(table_path, column)

    prev_meta = _index_meta(table_path, column)
    reusable = (
        prev_meta is not None
        and prev_meta.get("column") == column
        and prev_meta.get("m_bits") == m_bits
        and prev_meta.get("k") == bloom.K
        and _has_bitmap_data(idx_dir)
    )
    if reusable:
        prev = spark.read.parquet(idx_dir)
        indexed = {r.rel_path for r in prev.select("rel_path").collect()}
    else:
        prev = None
        indexed = set()
    missing = sorted(live - indexed)
    dead = indexed - live

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        filt = bloom.new_filter(m_bits)
        vals = pdf["v"].dropna().tolist()
        if vals:
            bloom.add(filt, bloom.hash_strings(vals))
        return pd.DataFrame(
            [{"rel_path": pdf["rel_path"].iloc[0],
              "bitmap": filt.tobytes()}]
        )

    fresh = None
    if missing:
        rows = delta_log.read_files(spark, snap, missing, keep_lineage=True).select(
            F.col("_rel_path").alias("rel_path"),
            F.col(column).cast("string").alias("v"),
        )
        fresh = rows.groupBy("rel_path").applyInPandas(
            fold, "rel_path string, bitmap binary"
        )

    if prev is None:
        if fresh is not None:
            fresh.write.mode("overwrite").parquet(idx_dir)
    elif dead:
        # survivors + fresh, staged then swapped (the sidecar cannot be
        # overwritten while a lazy plan still reads it); rewrite cost is
        # 8 KiB x |files| of INDEX, never table data
        keep_df = spark.createDataFrame(
            [(p,) for p in sorted(indexed & live)], "rel_path string"
        )
        surviving = prev.join(F.broadcast(keep_df), "rel_path", "left_semi")
        out = (
            surviving.unionByName(fresh) if fresh is not None else surviving
        )
        tmp = idx_dir + "__staging"
        out.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(idx_dir)
        os.rename(tmp, idx_dir)
    elif fresh is not None:
        fresh.write.mode("append").parquet(idx_dir)

    n = (
        spark.read.parquet(idx_dir).count()
        if _has_bitmap_data(idx_dir)
        else 0
    )
    meta = {
        "column": column,
        "m_bits": m_bits,
        "k": bloom.K,
        "version": version,
    }
    os.makedirs(idx_dir, exist_ok=True)
    with open(os.path.join(idx_dir, "_meta.json"), "w") as fh:
        json.dump(meta, fh)
    return {
        "numIndexedFiles": n,
        "mBits": m_bits,
        "k": bloom.K,
        "version": version,
        "numNewBitmaps": len(missing),
        "numDroppedEntries": len(dead),
    }


def _index_meta(table_path: str, column: str) -> dict | None:
    meta_path = os.path.join(_index_dir(table_path, column), "_meta.json")
    if not os.path.isfile(meta_path):
        return None
    with open(meta_path) as fh:
        return json.load(fh)


def bloom_pruned_files(
    spark: SparkSession,
    table_path: str,
    column: str,
    value,
    snap: log_replay.Snapshot | None = None,
) -> tuple[list[str], int]:
    """Live files that MIGHT contain ``value``: indexed files whose
    bitmap test fails are pruned; unindexed files are kept (stale-safe).
    The bitmap tests run DISTRIBUTED over the sidecar parquet (a
    million-file table carries ~8 GiB of bitmaps — never driver
    memory); only the surviving paths (bounded by the true candidate
    set plus false positives) and the |files| path strings reach the
    driver, the same planning cost as every log operation.
    ``snap`` is the snapshot whose live files are pruned (default: a
    fresh one of the table). Returns (candidate rel paths, number
    pruned)."""
    snap = snap or log_replay.table_snapshot(table_path)
    live = {a["path"] for a in snap._live_adds()}
    if _index_meta(table_path, column) is None or not _has_bitmap_data(
        _index_dir(table_path, column)
    ):
        # No index, or a meta-only sidecar (zero-live-file build):
        # fall back to the full scan — stale-safe, never wrong.
        return sorted(live), 0
    key_u64 = int(bloom.hash_strings([str(value)])[0])

    def probe(batches):
        keys = np.array([key_u64], dtype=np.uint64)
        for pdf in batches:
            hit = [
                bool(
                    bloom.contains(
                        np.frombuffer(bm, dtype=np.uint64), keys
                    )[0]
                )
                for bm in pdf["bitmap"]
            ]
            yield pd.DataFrame(
                {"rel_path": pdf["rel_path"], "hit": hit}
            )

    side = spark.read.parquet(_index_dir(table_path, column))
    tested = side.mapInPandas(probe, "rel_path string, hit boolean")
    indexed_hits = {
        r.rel_path for r in tested.where("hit").select("rel_path").collect()
    }
    indexed_all = {
        r.rel_path for r in side.select("rel_path").collect()
    }
    keep = [p for p in live if p not in indexed_all or p in indexed_hits]
    return sorted(keep), len(live) - len(keep)


def bloom_point_lookup(
    spark: SparkSession, table_path: str, column: str, value
) -> DataFrame:
    """Point lookup through the index: scan only the surviving files
    (deletion vectors applied), then the exact predicate."""
    snap = log_replay.table_snapshot(table_path)
    cand, _pruned = bloom_pruned_files(spark, table_path, column, value, snap)
    return delta_log.read_files(spark, snap, cand).where(
        F.col(column) == F.lit(value)
    )
