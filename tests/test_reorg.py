"""REORG TABLE ... APPLY (PURGE) — maintenance.reorg_purge.

Covers both halves (DV materialization + dropped-column purge), proves
the rewrite is bounded to affected files, that history/time-travel
survive (dataChange=false commits), and that the operator is idempotent.
Reference parity: the cleanup pressure the reference analyzer reports
(delta_python_analyzer.py:232-243) made actionable; Delta REORG PURGE
semantics (delta-io/delta PR #1732).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "reorg_tbl")
    rows = spark.range(0, 400).selectExpr(
        "id",
        "CONCAT('p', CAST(id % 2 AS STRING)) AS day",
        "CAST(id * 3 AS BIGINT) AS val",
        "CAST(id * 11 AS BIGINT) AS junk",
    )
    delta_writer.write(spark, rows.repartition(4), path, partition_by=["day"])
    return path


def _live_paths(spark, path):
    return [a["path"] for a in DeltaLog(spark, path).live_add_actions()]


def test_reorg_purges_dropped_column_and_dvs(spark, table):
    delta_writer.drop_column(spark, table, "junk")
    delta_writer.delete_with_dv(spark, table, "id % 10 = 0")
    pre_version = delta_writer.current_version(table)

    metrics = maintenance.reorg_purge(spark, table)
    assert metrics["numDvFilesRewritten"] > 0
    assert metrics["numPurgedFiles"] >= 0
    assert metrics["numAddedFiles"] > 0

    log = DeltaLog(spark, table)
    live = _live_paths(spark, table)
    # no live file's footer still carries the dropped column
    for rel in live:
        names = set(pq.read_schema(os.path.join(table, rel)).names)
        assert "junk" not in names, rel
    # no live file retains DV positions
    dv = log.deletion_vectors()
    if dv is not None:
        live_df = spark.createDataFrame([(p,) for p in live], "rel_path string")
        assert (
            dv.join(F.broadcast(live_df), "rel_path", "left_semi").count() == 0
        )
    # data intact: soft-deleted rows stay gone, everything else survives
    got = log.snapshot().agg(
        F.count(F.lit(1)).alias("n"), F.sum("val").alias("s")
    ).collect()[0]
    expect = [(i, i * 3) for i in range(400) if i % 10 != 0]
    assert got.n == len(expect)
    assert got.s == sum(v for _, v in expect)
    # time travel to the pre-reorg version still sees the same rows
    pre = log.snapshot(as_of=pre_version)
    assert pre.count() == len(expect)


def test_reorg_idempotent_and_data_change_false(spark, table):
    delta_writer.drop_column(spark, table, "junk")
    maintenance.reorg_purge(spark, table)
    v = delta_writer.current_version(table)
    # the REORG commit marks its adds/removes dataChange=false
    acts = log_replay.read_commit(table, v)
    for a in acts:
        if "add" in a:
            assert a["add"]["dataChange"] is False
        if "remove" in a:
            assert a["remove"]["dataChange"] is False
    # second run finds nothing to do and commits nothing
    again = maintenance.reorg_purge(spark, table)
    assert again == {
        "numDvFilesRewritten": 0,
        "numPurgedFiles": 0,
        "numAddedFiles": 0,
    }
    assert delta_writer.current_version(table) == v


def test_reorg_rewrites_only_affected_files(spark, table):
    # DV-delete rows confined to one partition: only that partition's
    # files are rewritten; the other partition's files survive untouched
    delta_writer.delete_with_dv(spark, table, "day = 'p0' AND id < 20")
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    log = DeltaLog(spark, table)
    dv_files = {
        r.rel_path
        for r in log.deletion_vectors().select("rel_path").distinct().collect()
    }
    before = set(_live_paths(spark, table))
    untouched = {p for p in before if p.startswith("day=p1/")}
    assert dv_files and dv_files <= before - untouched
    maintenance.reorg_purge(spark, table)
    after = set(_live_paths(spark, table))
    assert untouched <= after, "p1 files must not be rewritten"
    # every p0 file that carried DV positions was replaced
    assert not dv_files & after, "DV-carrying files must leave the live set"


def test_reorg_noop_on_clean_table(spark, table):
    v = delta_writer.current_version(table)
    metrics = maintenance.reorg_purge(spark, table)
    assert metrics["numPurgedFiles"] == 0
    assert metrics["numDvFilesRewritten"] == 0
    assert delta_writer.current_version(table) == v


def test_restore_to_timestamp(spark, table):
    """Timestamp restore resolves through the same adjusted commit clock
    as read-side time travel, then behaves exactly like version restore."""
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    log = DeltaLog(spark, table)
    n0 = log.snapshot().count()
    ts_pairs = log.commit_timestamps()
    v0_ts = [t for v, t in ts_pairs if v == 0][0]
    extra = spark.range(0, 50).selectExpr(
        "id + 10000 AS id", "'p0' AS day", "CAST(id AS BIGINT) AS val",
        "CAST(id AS BIGINT) AS junk",
    )
    delta_writer.write(spark, extra, table)
    assert DeltaLog(spark, table).snapshot().count() == n0 + 50
    maintenance.restore_to_timestamp(spark, table, v0_ts)
    assert DeltaLog(spark, table).snapshot().count() == n0
