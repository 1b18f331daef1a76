"""Per-file Bloom file-skipping index — operators/bloom_index.py.

Contract: zero false negatives (every value's containing file survives
the probe), real pruning on absent values, stale-safety (files written
after the build are never pruned), DV-correct lookups, and a rebuild
picks up new files.
"""

from __future__ import annotations

import pytest

from delta_lake_health_spark.operators import bloom_index
from delta_lake_health_spark.sources import delta_log, delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "bloom_tbl")
    # 8 files, ids 0..799 — high-cardinality point-lookup column
    df = spark.range(0, 800).selectExpr(
        "id", "CAST(id % 7 AS BIGINT) AS grp"
    )
    delta_writer.write(spark, df.repartition(8), path)
    return path


def test_zero_false_negatives_and_pruning(spark, table):
    m = bloom_index.build_bloom_index(spark, table, "id")
    assert m["numIndexedFiles"] == 8
    # every present value: its file survives and the lookup is exact
    for v in (0, 123, 799):
        got = bloom_index.bloom_point_lookup(spark, table, "id", v).collect()
        assert [r.id for r in got] == [v]
    # present value: candidate set is a strict subset (pruning happened)
    cand, pruned = bloom_index.bloom_pruned_files(spark, table, "id", 123)
    assert pruned > 0 and len(cand) < 8
    # absent value: almost everything prunes; lookup returns nothing
    cand, pruned = bloom_index.bloom_pruned_files(spark, table, "id", 10**9)
    assert pruned >= 6
    assert bloom_index.bloom_point_lookup(spark, table, "id", 10**9).count() == 0


def test_exhaustive_no_false_negative_sweep(spark, table):
    """Every one of the 800 values must keep its containing file — the
    Bloom no-false-negative property end-to-end through the sidecar."""
    bloom_index.build_bloom_index(spark, table, "id")
    lineage = delta_log.read_files(spark, log_replay.Snapshot(table), keep_lineage=True)
    truth = {
        r.id: r._rel_path
        for r in lineage.select("id", "_rel_path").collect()
    }
    for v in range(0, 800, 37):  # sampled sweep
        cand, _ = bloom_index.bloom_pruned_files(spark, table, "id", v)
        assert truth[v] in cand, v


def test_stale_index_keeps_new_files(spark, table):
    bloom_index.build_bloom_index(spark, table, "id")
    delta_writer.write(
        spark,
        spark.range(5000, 5010)
        .selectExpr("id", "CAST(1 AS BIGINT) AS grp")
        .coalesce(1),
        table,
    )
    # the new file has no index entry -> conservatively kept
    got = bloom_index.bloom_point_lookup(spark, table, "id", 5007).collect()
    assert [r.id for r in got] == [5007]
    # rebuild indexes the new file too and pruning tightens again
    m = bloom_index.build_bloom_index(spark, table, "id")
    assert m["numIndexedFiles"] == 9
    cand, pruned = bloom_index.bloom_pruned_files(spark, table, "id", 5007)
    assert pruned >= 7


def test_incremental_refresh_reads_only_new_files(spark, table, monkeypatch):
    """A refresh after an append computes bitmaps ONLY for the missing
    files — the data scan is planned over exactly that file list, never
    the whole table (the incremental contract of build_bloom_index)."""
    from pyspark.sql import functions as F

    m0 = bloom_index.build_bloom_index(spark, table, "id")
    assert m0["numNewBitmaps"] == 8 and m0["numDroppedEntries"] == 0
    delta_writer.write(
        spark,
        spark.range(5000, 5010)
        .selectExpr("id", "CAST(1 AS BIGINT) AS grp")
        .coalesce(1),
        table,
    )
    appended = {
        r.path
        for r in DeltaLog(spark, table)
        .actions(use_checkpoint=False)
        .where("version = 1 AND add IS NOT NULL")
        .select(F.col("add.path").alias("path"))
        .collect()
    }
    assert len(appended) == 1
    calls = []
    orig = delta_log.read_files

    def spy(spark, snap, rel_paths=None, **kw):
        calls.append(rel_paths)
        return orig(spark, snap, rel_paths, **kw)

    monkeypatch.setattr(delta_log, "read_files", spy)
    m = bloom_index.build_bloom_index(spark, table, "id")
    assert m["numNewBitmaps"] == 1 and m["numDroppedEntries"] == 0
    assert m["numIndexedFiles"] == 9
    # the one data scan was planned over exactly the appended file
    assert calls == [sorted(appended)]
    cand, pruned = bloom_index.bloom_pruned_files(spark, table, "id", 5007)
    assert pruned >= 7
    got = bloom_index.bloom_point_lookup(spark, table, "id", 5007).collect()
    assert [r.id for r in got] == [5007]


def test_incremental_refresh_drops_dead_entries(spark, table):
    """Files rewritten away (compaction) lose their sidecar entries; the
    new files gain bitmaps; no false negatives survive the churn."""
    from delta_lake_health_spark.operators import maintenance

    bloom_index.build_bloom_index(spark, table, "id")
    maintenance.compact(
        spark, table, small_file_size=1 << 30, target_file_size=1 << 30
    )
    live = {
        r.path
        for r in DeltaLog(spark, table).active_files().select("path").collect()
    }
    m = bloom_index.build_bloom_index(spark, table, "id")
    assert m["numDroppedEntries"] == 8  # all pre-compaction files dead
    assert m["numNewBitmaps"] == len(live)
    assert m["numIndexedFiles"] == len(live)
    import pyspark.sql.functions as F  # noqa: F401

    indexed = {
        r.rel_path
        for r in spark.read.parquet(
            bloom_index._index_dir(table, "id")
        ).select("rel_path").collect()
    }
    assert indexed == live
    for v in (0, 123, 799):
        got = bloom_index.bloom_point_lookup(spark, table, "id", v).collect()
        assert [r.id for r in got] == [v]


def test_lookup_respects_deletion_vectors(spark, table):
    bloom_index.build_bloom_index(spark, table, "id")
    delta_writer.delete_with_dv(spark, table, "id = 123")
    # the bitmap still matches (stale) but the scan applies the DV
    assert bloom_index.bloom_point_lookup(spark, table, "id", 123).count() == 0
    assert bloom_index.bloom_point_lookup(spark, table, "id", 124).count() == 1


def test_unindexed_table_full_scan(spark, table):
    cand, pruned = bloom_index.bloom_pruned_files(spark, table, "id", 1)
    assert pruned == 0 and len(cand) == 8
    assert bloom_index.bloom_point_lookup(spark, table, "id", 1).count() == 1


def test_zero_live_files_meta_only_sidecar(spark, tmp_path):
    """ADVICE r10: a build over a table with ZERO live files leaves a
    meta-only sidecar (no parquet); the next refresh must not crash on
    it, the probe must fall back to the full (empty) scan, and data
    arriving after the empty epoch indexes normally."""
    import os

    from delta_lake_health_spark.operators.maintenance import fsck_repair

    path = str(tmp_path / "empty_tbl")
    df = spark.range(0, 20).selectExpr("id", "CAST(id AS STRING) AS k")
    delta_writer.write(spark, df, path)
    # drop every data file out-of-band, then FSCK: the log ends with
    # ZERO live add actions — the advisor's exact scenario
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            os.remove(os.path.join(path, f))
    fsck_repair(spark, path)
    assert len(list(DeltaLog(spark, path).live_files_rows())) == 0

    m1 = bloom_index.build_bloom_index(spark, path, "k")
    assert m1["numIndexedFiles"] == 0 and m1["numNewBitmaps"] == 0
    # refresh over the meta-only sidecar: the reusable path must gate on
    # actual parquet data, not just _meta.json
    m2 = bloom_index.build_bloom_index(spark, path, "k")
    assert m2["numIndexedFiles"] == 0

    cand, pruned = bloom_index.bloom_pruned_files(spark, path, "k", "3")
    assert cand == [] and pruned == 0
    assert bloom_index.bloom_point_lookup(spark, path, "k", "3").count() == 0

    # the table refills -> the same sidecar builds and probes normally
    delta_writer.write(spark, df, path, mode="append")
    m3 = bloom_index.build_bloom_index(spark, path, "k")
    assert m3["numIndexedFiles"] >= 1
    got = bloom_index.bloom_point_lookup(spark, path, "k", "3").collect()
    assert [r.id for r in got] == [3]
