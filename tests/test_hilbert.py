"""Hilbert clustering — operators/hilbert.py + maintenance.hilbert_cluster.

Three layers: (1) the curve itself — the vectorized Skilling transform
equals the scalar reference, the index is a permutation of the grid,
and consecutive indexes are GRID NEIGHBORS (the defining Hilbert
property, asserted exhaustively in 2D and 3D); (2) the table rewrite —
data preserved, dataChange=false, min/max stats selective on BOTH
columns; (3) the reason it exists — per-file bounding-box spans are
tighter than the Z-order rewrite of the same table.
"""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from delta_lake_health_spark.operators import maintenance
from delta_lake_health_spark.operators.hilbert import (
    hilbert_index,
    hilbert_index_reference,
)
from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog


def test_vectorized_matches_reference():
    rng = np.random.default_rng(7)
    for n, bits in [(2, 8), (3, 5), (4, 4)]:
        codes = rng.integers(0, 1 << bits, size=(500, n))
        vec = hilbert_index(codes, bits)
        ref = np.array(
            [hilbert_index_reference(list(map(int, c)), bits) for c in codes],
            dtype=np.uint64,
        )
        assert (vec == ref).all(), (n, bits)


@pytest.mark.parametrize("dims,bits", [(2, 4), (3, 3)])
def test_adjacency_property_exhaustive(dims, bits):
    """Every cell visited exactly once, each step moves ONE grid unit —
    the property Z-order lacks and the reason the curve clusters
    tighter."""
    side = 1 << bits
    grid = np.array(
        [c for c in np.ndindex(*([side] * dims))], dtype=np.int64
    )
    idx = hilbert_index(grid, bits)
    assert sorted(idx) == list(range(side**dims))
    order = grid[np.argsort(idx)]
    steps = np.abs(np.diff(order, axis=0)).sum(axis=1)
    assert (steps == 1).all()


def _file_spans(spark, path, cols):
    """Per-live-file (min, max) spans of each column from the ADD stats
    (what data skipping actually prunes on)."""
    log = DeltaLog(spark, path)
    spans = {c: [] for c in cols}
    for a in log.live_add_actions():
        st = json.loads(a["stats"])
        for c in cols:
            spans[c].append(float(st["maxValues"][c]) - float(st["minValues"][c]))
    return spans


@pytest.fixture()
def grid_table(spark, tmp_path):
    """Uniform 2D grid, written shuffled so neither column starts
    clustered."""
    path = str(tmp_path / "grid")
    df = (
        spark.range(0, 4096)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
            F.col("id").alias("payload"),
        )
        .orderBy(F.xxhash64("id"))  # destroy any natural order
        .coalesce(4)
    )
    delta_writer.write(spark, df, path)
    return path


def test_hilbert_cluster_rewrite(spark, grid_table):
    before = DeltaLog(spark, grid_table).snapshot()
    sum_before = before.agg(F.sum("payload")).collect()[0][0]
    m = maintenance.hilbert_cluster(
        spark, grid_table, ["x", "y"], target_file_size=2 * 1024
    )
    assert m["numRemovedFiles"] >= 1 and m["numAddedFiles"] >= 4
    log = DeltaLog(spark, grid_table)
    snap = log.snapshot()
    assert snap.count() == 4096
    assert snap.agg(F.sum("payload")).collect()[0][0] == sum_before
    # maintenance commit: every add/remove carries dataChange=false
    acts = log_replay.read_commit(grid_table, log.version())
    for a in acts:
        if "add" in a:
            assert a["add"]["dataChange"] is False
        if "remove" in a:
            assert a["remove"]["dataChange"] is False
    # BOTH columns get selective per-file stats (multi-dim locality):
    # a full-span file would show 63 on x or y; clustered files must not
    spans = _file_spans(spark, grid_table, ["x", "y"])
    assert max(spans["x"]) < 48 and max(spans["y"]) < 48


def test_hilbert_tighter_than_zorder(spark, grid_table, tmp_path):
    """The point of the curve: on the same uniform grid at the same
    output file count, the summed per-file bounding-box area of the
    Hilbert rewrite is <= the Z-order rewrite's (Hilbert never jumps,
    Z-order jumps at every power-of-two boundary)."""
    # clone the table so both rewrites start from identical bytes
    z_path = str(tmp_path / "grid_z")
    delta_writer.clone_deep(spark, grid_table, z_path)
    maintenance.hilbert_cluster(
        spark, grid_table, ["x", "y"], target_file_size=2 * 1024
    )
    maintenance.zorder_cluster(
        spark, z_path, ["x", "y"], target_file_size=2 * 1024
    )
    hs = _file_spans(spark, grid_table, ["x", "y"])
    zs = _file_spans(spark, z_path, ["x", "y"])
    h_area = sum((a + 1) * (b + 1) for a, b in zip(hs["x"], hs["y"]))
    z_area = sum((a + 1) * (b + 1) for a, b in zip(zs["x"], zs["y"]))
    assert len(hs["x"]) >= 4 and len(zs["x"]) >= 4
    assert h_area <= z_area, (h_area, z_area)


def test_hilbert_refuses_one_column(spark, grid_table):
    with pytest.raises(ValueError, match=">= 2"):
        maintenance.hilbert_cluster(spark, grid_table, ["x"])


def test_hilbert_survives_nan_inf_and_all_null_columns(spark, tmp_path):
    """A NaN/±Inf row makes the column's bounds non-finite and an
    all-null column has null bounds: the bounds fall back to 0.0 and the
    grid code is clamped before the BIGINT cast, so the rewrite neither
    overflows the cast nor loses a row."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i), None) for i in range(40)]
        + [(40, float("nan"), None), (41, float("inf"), None),
           (42, float("-inf"), None)],
        "id long, x double, y double",
    )
    delta_writer.write(spark, df.repartition(3), path)
    res = maintenance.hilbert_cluster(spark, path, ["x", "y"])
    assert res["numAddedFiles"] >= 1
    snap = DeltaLog(spark, path).snapshot()
    assert sorted(r.id for r in snap.collect()) == list(range(43))
    assert snap.where("isnan(x)").count() == 1
