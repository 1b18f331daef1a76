"""Liquid clustering (Delta writer feature ``clustering``): declared
columns in the ``delta.clustering`` domainMetadata, applied by every
ingest that doesn't choose its own layout (clustered writes) and by
``zorder_cluster(cluster_cols=None)`` (the bare OPTIMIZE of a clustered
table). Cites delta-io PROTOCOL.md's Clustered Table section: the
feature depends on domainMetadata; clustering columns cannot be
partition columns.
"""

from __future__ import annotations

import json
import shutil
import tempfile

import pytest

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog


@pytest.fixture()
def table(spark):
    tmp = tempfile.mkdtemp()
    path = f"{tmp}/liquid"
    yield path
    shutil.rmtree(tmp, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id", "CAST(pmod(hash(id), 10000) AS LONG) AS k"
    ).repartition(8)


def test_declaration_protocol_and_domain(spark, table):
    delta_writer.write(spark, _df(spark, 0, 100), table)
    delta_writer.set_cluster_columns(spark, table, ["k"])
    p = DeltaLog(spark, table).protocol()
    assert p["minWriterVersion"] == 7
    assert {"clustering", "domainMetadata"} <= set(p["writerFeatures"])
    assert delta_writer.clustering_columns(log_replay.Snapshot(table)) == ["k"]
    dom = DeltaLog(spark, table).domain_metadata(
        delta_writer.CLUSTERING_DOMAIN
    )
    assert dom is not None

    # re-declare replaces; [] clears (CLUSTER BY NONE)
    delta_writer.set_cluster_columns(spark, table, ["id"])
    assert delta_writer.clustering_columns(log_replay.Snapshot(table)) == ["id"]
    delta_writer.set_cluster_columns(spark, table, [])
    assert delta_writer.clustering_columns(log_replay.Snapshot(table)) == []


def test_ingest_clusters_by_declared_columns(spark, table):
    delta_writer.write(spark, _df(spark, 0, 1), table)
    delta_writer.write(spark, _df(spark, 0, 0), table, mode="overwrite")
    delta_writer.set_cluster_columns(spark, table, ["k"])
    # NO cluster_by passed: the declared columns apply
    delta_writer.write(spark, _df(spark, 0, 40_000), table)
    log = DeltaLog(spark, table)
    kept = log.pruned_files("k", 100, 200).count()
    total = log.active_files().count()
    assert kept <= max(1, total // 3), "declared clustering must prune"
    assert log.snapshot().count() == 40_000

    # the declaration survives a checkpoint (domainMetadata folds in)
    log.checkpoint()
    assert delta_writer.clustering_columns(log_replay.Snapshot(table)) == ["k"]


def test_optimize_defaults_to_declared_columns(spark, table):
    delta_writer.write(spark, _df(spark, 0, 20_000), table)
    delta_writer.set_cluster_columns(spark, table, ["k"])
    out = maintenance.zorder_cluster(spark, table)  # no cluster_cols
    assert out["numAddedFiles"] >= 1
    import os
    v = delta_writer.current_version(table)
    acts = [json.loads(line) for line in
            open(os.path.join(table, "_delta_log", f"{v:020d}.json"))]
    ci = next(a["commitInfo"] for a in acts if "commitInfo" in a)
    assert ci["operationParameters"]["zOrderBy"] == "k"

    # undeclared table refuses the bare OPTIMIZE
    t2 = table + "_plain"
    delta_writer.write(spark, _df(spark, 0, 100), t2)
    with pytest.raises(ValueError, match="declares no"):
        maintenance.zorder_cluster(spark, t2)


def test_declaration_refusals(spark, table):
    df = spark.range(0, 10).selectExpr(
        "id", "CAST(id % 2 AS LONG) AS p", "CAST(id AS LONG) AS k"
    )
    delta_writer.write(spark, df, table, partition_by=["p"])
    with pytest.raises(ValueError, match="not in table schema"):
        delta_writer.set_cluster_columns(spark, table, ["missing"])
    with pytest.raises(ValueError, match="partition column"):
        delta_writer.set_cluster_columns(spark, table, ["p"])


def test_explicit_cluster_by_overrides_declared(spark, table):
    delta_writer.write(spark, _df(spark, 0, 1), table)
    delta_writer.write(spark, _df(spark, 0, 0), table, mode="overwrite")
    delta_writer.set_cluster_columns(spark, table, ["k"])
    # explicit id-clustering wins over the declared k-clustering
    delta_writer.write(
        spark, _df(spark, 0, 40_000), table, cluster_by=["id"]
    )
    log = DeltaLog(spark, table)
    kept_id = log.pruned_files("id", 100, 200).count()
    total = log.active_files().count()
    assert kept_id <= max(1, total // 3)


def test_target_file_size_property_resolved(spark, table):
    """delta.targetFileSize (bytes or '1mb'-style) drives OPTIMIZE
    output sizing when no explicit target is passed."""
    delta_writer.write(spark, _df(spark, 0, 30_000).repartition(6), table)
    delta_writer.set_table_property(
        spark, table, "delta.targetFileSize", "64kb"
    )
    assert maintenance._table_target_file_size(
        log_replay.Snapshot(table)
    ) == 64 * 1024
    out = maintenance.compact(spark, table, small_file_size=1 << 30)
    # 6 small files re-packed into more, smaller outputs (64 KiB target
    # over ~hundreds of KiB of data -> several files)
    assert out["numAddedFiles"] > 1

    # raw byte value and default fallback
    delta_writer.set_table_property(
        spark, table, "delta.targetFileSize", "1048576"
    )
    assert maintenance._table_target_file_size(
        log_replay.Snapshot(table)
    ) == 1048576
    t2 = table + "_plain"
    delta_writer.write(spark, _df(spark, 0, 10), t2)
    assert (
        maintenance._table_target_file_size(log_replay.Snapshot(t2))
        == maintenance.TARGET_FILE_SIZE
    )
