"""Copy-on-write UPDATE (delta_writer.update): old-row RHS semantics,
file pruning, generated-column recompute, constraint enforcement, and
how the commit surfaces in the row-level change feed."""

from __future__ import annotations

import os

import pytest

# copy-on-write UPDATE battery: slow battery, full-suite close-out only
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from delta_lake_health_spark.sources import delta_writer
from delta_lake_health_spark.sources.cdf import row_changes
from delta_lake_health_spark.sources.delta_log import DeltaLog


def _tbl(spark, path, n=40):
    df = spark.range(n).selectExpr(
        "id", "CAST(id % 4 AS LONG) AS k", "CAST(id * 2 AS LONG) AS v"
    )
    delta_writer.write(spark, df.repartition(4), path)
    return path


def test_update_basic_and_rhs_sees_old_row(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    # swap-style: both assignments read the OLD row
    delta_writer.update(spark, t, "id < 5", {"k": "v", "v": "k"})
    got = {r.id: (r.k, r.v) for r in DeltaLog(spark, t).snapshot().collect()}
    for i in range(5):
        assert got[i] == (i * 2, i % 4)  # swapped from old values
    for i in range(5, 40):
        assert got[i] == (i % 4, i * 2)  # untouched


def test_update_rewrites_only_hit_files(spark, tmp_path):
    t = str(tmp_path / "t")
    # 4 files, each holding one k partition-ish slice via repartition on k
    df = spark.range(40).selectExpr("id", "CAST(id % 4 AS LONG) AS k",
                                    "CAST(0 AS LONG) AS v")
    delta_writer.write(spark, df.repartition(4, "k"), t)
    log = DeltaLog(spark, t)
    delta_writer.update(spark, t, "k = 2", {"v": "99"})
    acts = log.actions(use_checkpoint=False).where("version = 1")
    n_removed = acts.where("remove IS NOT NULL").count()
    assert n_removed <= 2  # only files containing k=2 rows, never all 4
    snap = log.snapshot()
    assert snap.where("k = 2 AND v = 99").count() == 10
    assert snap.where("k <> 2 AND v = 0").count() == 30


def test_update_no_match_is_metadata_only(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    v = delta_writer.update(spark, t, "id = 12345", {"v": "0"})
    log = DeltaLog(spark, t)
    assert v == 1
    assert log.actions(use_checkpoint=False).where(
        "version = 1 AND (add IS NOT NULL OR remove IS NOT NULL)"
    ).count() == 0


def test_update_recomputes_generated_column(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    delta_writer.set_generated_column(spark, t, "v", "id * 2")
    delta_writer.update(spark, t, "id = 3", {"id": "id + 100"})
    got = {r.id: r.v for r in DeltaLog(spark, t).snapshot().collect()}
    assert 3 not in got and got[103] == 206  # regenerated from new id
    with pytest.raises(ValueError, match="generated"):
        delta_writer.update(spark, t, "id = 0", {"v": "1"})


def test_update_enforces_constraints(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    delta_writer.set_constraint(spark, t, "v_nonneg", "v >= 0")
    with pytest.raises(Exception, match="v_nonneg|constraint"):
        delta_writer.update(spark, t, "id = 1", {"v": "-5"})
    # table unchanged after the refused commit
    assert DeltaLog(spark, t).snapshot().where("v < 0").count() == 0


def test_update_respects_deletion_vectors(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"))
    delta_writer.delete_with_dv(spark, t, "id = 10")
    delta_writer.update(spark, t, "k = 2", {"v": "-1"})
    snap = DeltaLog(spark, t).snapshot()
    assert snap.where("id = 10").count() == 0  # not resurrected
    assert snap.where("k = 2").count() == snap.where("k = 2 AND v = -1").count()


def test_update_in_change_feed(spark, tmp_path):
    t = _tbl(spark, str(tmp_path / "t"), n=10)
    delta_writer.update(spark, t, "id = 7", {"v": "777"})
    ch = row_changes(spark, t, from_version=1)
    by = {
        r._change_type: r.n
        for r in ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()
    }
    # one file of 10 rows rewritten: 10 deletes + 10 inserts
    assert by["delete"] == by["insert"]
    new = {r.id: r.v for r in ch.where("_change_type = 'insert'").collect()}
    assert new[7] == 777


def test_merge_not_matched_by_source_delete(spark, tmp_path):
    """MERGE ... WHEN NOT MATCHED BY SOURCE THEN DELETE (conditional):
    matched rows update, new keys insert, unmatched rows satisfying the
    condition are deleted, unmatched rows outside it are untouched —
    and only files containing affected rows are rewritten."""
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b", float(i)) for i in range(100)],
        "id long, part string, v double",
    )
    delta_writer.write(spark, df, t, partition_by=["part"])

    # source covers partition 'a' only: ids 0..9 updated, 1000 inserted;
    # the delete condition scopes the sync to partition 'a'
    src = spark.createDataFrame(
        [(i, "a", 999.0) for i in range(10)] + [(1000, "a", 5.0)],
        "id long, part string, v double",
    )
    delta_writer.merge(
        spark, t, src, ["id"], not_matched_by_source_delete="part = 'a'"
    )
    log = DeltaLog(spark, t)
    snap = {r.id: (r.part, r.v) for r in log.snapshot().collect()}
    # partition a: only the source's rows survive
    assert {i for i, (p, _v) in snap.items() if p == "a"} == set(range(10)) | {1000}
    assert all(snap[i][1] == 999.0 for i in range(10))
    assert snap[1000][1] == 5.0
    # partition b untouched (condition excluded it)
    assert {i for i, (p, _v) in snap.items() if p == "b"} == set(range(50, 100))
    assert all(snap[i][1] == float(i) for i in range(50, 100))
    # file pruning: partition b's file was never rewritten
    ops = [r for r in log.history().collect() if r.operation == "MERGE"]
    assert len(ops) == 1
    removed_b = [
        r.path
        for r in log.actions().where("remove is not null").select(
            "remove.path"
        ).collect()
        if "part=b" in r.path
    ]
    assert removed_b == []

    # unconditional form: the table becomes exactly the source
    delta_writer.merge(
        spark, t, src, ["id"], not_matched_by_source_delete="true"
    )
    snap2 = sorted(r.id for r in DeltaLog(spark, t).snapshot().collect())
    assert snap2 == sorted([*range(10), 1000])


def test_update_writes_cdc_pre_post_images(spark, tmp_path):
    """With delta.enableChangeDataFeed set, UPDATE commits carry a
    _change_data file (Delta's cdc action): the feed reports exactly the
    matched rows as update_preimage/update_postimage — NOT delete+insert
    pairs for every row of the rewritten files."""
    from delta_lake_health_spark.sources.cdf import row_changes

    t = str(tmp_path / "cdc_upd")
    delta_writer.write(
        spark,
        spark.range(0, 100).selectExpr(
            "id", "CAST(id % 10 AS DOUBLE) AS v"
        ).repartition(2),
        t,
    )
    delta_writer.set_table_property(
        spark, t, "delta.enableChangeDataFeed", "true"
    )
    v = delta_writer.update(spark, t, "id % 20 = 3", {"v": "v + 100.0"})

    ch = row_changes(spark, t, from_version=v, to_version=v).collect()
    # 5 matched rows -> 5 preimages + 5 postimages, nothing else
    assert len(ch) == 10
    by_type = {}
    for r in ch:
        by_type.setdefault(r._change_type, []).append(r)
    assert set(by_type) == {"update_preimage", "update_postimage"}
    pre = {r.id: r.v for r in by_type["update_preimage"]}
    post = {r.id: r.v for r in by_type["update_postimage"]}
    assert set(pre) == set(post) == {3, 23, 43, 63, 83}
    for i in pre:
        assert post[i] == pre[i] + 100.0
    assert all(r._commit_version == v for r in ch)
    # the cdc action is in the commit; table state is unaffected
    import json as _json
    import os as _os

    acts = [
        _json.loads(line)
        for line in open(_os.path.join(t, "_delta_log", f"{v:020d}.json"))
    ]
    assert any("cdc" in a for a in acts)
    snap = {r.id: r.v for r in DeltaLog(spark, t).snapshot().collect()}
    assert len(snap) == 100 and snap[3] == 103.0 and snap[4] == 4.0


def test_update_without_cdf_property_keeps_delete_insert_feed(spark, tmp_path):
    from delta_lake_health_spark.sources.cdf import row_changes

    t = str(tmp_path / "nocdc_upd")
    delta_writer.write(
        spark,
        spark.range(0, 40).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .repartition(1),
        t,
    )
    v = delta_writer.update(spark, t, "id = 7", {"v": "0.0"})
    types = {
        r._change_type
        for r in row_changes(spark, t, from_version=v, to_version=v).collect()
    }
    assert types == {"insert", "delete"}  # reconstruction path unchanged


def test_mv_refresh_folds_cdc_updates(spark, tmp_path):
    """Incremental MV maintenance over a CDF-enabled source: an UPDATE's
    pre/postimage rows fold as -old +new, and the refresh plans ONLY the
    change-data file for that commit."""
    from delta_lake_health_spark.operators import mv as mv_ops

    src = str(tmp_path / "cdc_src")
    view = str(tmp_path / "cdc_view")
    delta_writer.write(
        spark,
        spark.range(0, 90).selectExpr(
            "id", "CAST(id % 3 AS BIGINT) AS k", "CAST(id AS BIGINT) AS v"
        ).repartition(2),
        src,
    )
    delta_writer.set_table_property(
        spark, src, "delta.enableChangeDataFeed", "true"
    )
    mv_ops.create_mv(spark, src, view, ["k"], ["v"])
    out = delta_writer.update(spark, src, "k = 1", {"v": "v + 1000"})
    res = mv_ops.refresh_mv(spark, src, view, ["k"], ["v"])
    assert res["refreshed"]
    assert all(f.startswith("_change_data/") for f in res["files_read"])
    got = {r.k: (r.n_rows, r.sum_v) for r in mv_ops.read_mv(spark, view).collect()}
    exp = {}
    for i in range(90):
        k = i % 3
        v2 = i + 1000 if k == 1 else i
        n, s = exp.get(k, (0, 0))
        exp[k] = (n + 1, s + v2)
    assert got == exp
    del out


def test_delete_and_dv_delete_write_cdc(spark, tmp_path):
    """DELETE (rewrite) and DV DELETE both carry change-data files when
    CDF is enabled: the feed reports exactly the deleted rows."""
    from delta_lake_health_spark.sources.cdf import row_changes

    for mode in ("rewrite", "dv"):
        t = str(tmp_path / f"cdc_del_{mode}")
        delta_writer.write(
            spark,
            spark.range(0, 60).selectExpr("id", "CAST(id % 5 AS LONG) AS k")
            .repartition(2),
            t,
        )
        delta_writer.set_table_property(
            spark, t, "delta.enableChangeDataFeed", "true"
        )
        if mode == "rewrite":
            v = delta_writer.delete(spark, t, "k = 2")
        else:
            v = delta_writer.delete_with_dv(spark, t, "k = 2")
        ch = row_changes(spark, t, from_version=v, to_version=v).collect()
        assert {r._change_type for r in ch} == {"delete"}
        assert sorted(r.id for r in ch) == [i for i in range(60) if i % 5 == 2]
        assert DeltaLog(spark, t).snapshot().count() == 48


def test_merge_writes_full_cdc(spark, tmp_path):
    """MERGE change data: matched rows as pre/post images, unmatched
    source rows as inserts, not-matched-by-source deletes as deletes."""
    from delta_lake_health_spark.operators import mv as mv_ops
    from delta_lake_health_spark.sources.cdf import row_changes

    t = str(tmp_path / "cdc_merge")
    delta_writer.write(
        spark,
        spark.range(0, 10).selectExpr("id", "CAST(id AS LONG) AS v")
        .repartition(1),
        t,
    )
    delta_writer.set_table_property(
        spark, t, "delta.enableChangeDataFeed", "true"
    )
    src = spark.range(8, 13).selectExpr("id", "CAST(id + 100 AS LONG) AS v")
    v = delta_writer.merge(
        spark, t, src, ["id"], not_matched_by_source_delete="id < 2"
    )
    ch = row_changes(spark, t, from_version=v, to_version=v).collect()
    by = {}
    for r in ch:
        by.setdefault(r._change_type, []).append((r.id, r.v))
    assert sorted(by["update_preimage"]) == [(8, 8), (9, 9)]
    assert sorted(by["update_postimage"]) == [(8, 108), (9, 109)]
    assert sorted(by["insert"]) == [(10, 110), (11, 111), (12, 112)]
    assert sorted(by["delete"]) == [(0, 0), (1, 1)]
    # the MV fold over this feed reproduces a full recompute
    snap = {r.id: r.v for r in DeltaLog(spark, t).snapshot().collect()}
    exp = {i: i for i in range(2, 8)}
    exp.update({i: i + 100 for i in range(8, 13)})
    assert snap == exp
    del mv_ops


def test_delete_keeps_rows_whose_predicate_is_null(spark, tmp_path):
    """DELETE removes only the rows its predicate holds for: a row whose
    predicate is NULL stays, also inside a file the DELETE rewrites."""
    t = str(tmp_path / "t")
    delta_writer.write(
        spark,
        spark.createDataFrame(
            [(1, 5), (2, None), (3, 50)], "id long, v long"
        ).coalesce(1),
        t,
    )
    delta_writer.delete(spark, t, "v > 10")
    ids = sorted(r.id for r in DeltaLog(spark, t).snapshot().collect())
    assert ids == [1, 2]


def test_delete_that_empties_a_rewritten_file_adds_no_file(spark, tmp_path):
    """A copy-on-write DELETE that removes every row of a file it
    rewrites commits no 0-row data file and leaves none on disk."""
    t = str(tmp_path / "t")
    delta_writer.write(spark, spark.range(0, 10).coalesce(1), t)
    delta_writer.write(spark, spark.range(10, 20).coalesce(1), t, mode="append")
    delta_writer.delete(spark, t, "id < 10")
    log = DeltaLog(spark, t)
    assert [r.num_records for r in log.active_files().collect()] == [10]
    assert sorted(r.id for r in log.snapshot().collect()) == list(range(10, 20))
    assert len(delta_writer._list_parquet_rel(t)) == 2  # the two originals


def _tree(path):
    """Every directory and file under ``path``, hidden ones included."""
    out = set()
    for root, dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        out |= {os.path.join(rel, d) + "/" for d in dirs}
        out |= {os.path.join(rel, f) for f in files}
    return out


def test_refused_rewrites_leave_no_debris(spark, tmp_path):
    """MERGE, UPDATE and COPY INTO check constraints inside their write
    job; a refused batch leaves the table directory — data files, their
    .crc checksums, partition directories, _change_data/ and the log —
    listing exactly as before."""
    t = str(tmp_path / "t")
    delta_writer.write(
        spark,
        spark.range(0, 40).selectExpr(
            "id", "CAST(id % 2 AS INT) AS p", "CAST(id AS BIGINT) AS v"
        ),
        t,
        partition_by=["p"],
    )
    delta_writer.set_table_property(
        spark, t, "delta.enableChangeDataFeed", "true"
    )
    delta_writer.set_constraint(spark, t, "v_nonneg", "v >= 0")
    delta_writer.update(spark, t, "id = 1", {"v": "v + 1"})  # a good rewrite
    assert os.path.isdir(os.path.join(t, "_change_data"))
    src = str(tmp_path / "src")
    spark.createDataFrame([(200, 9, -3)], "id long, p int, v long").write.parquet(src)
    before = _tree(t)
    version = delta_writer.current_version(t)

    refused = {
        "update": lambda: delta_writer.update(spark, t, "id = 3", {"v": "-1"}),
        "merge": lambda: delta_writer.merge(
            spark, t,
            spark.createDataFrame(
                [(3, 1, -5), (100, 7, 1)], "id long, p int, v long"
            ),
            ["id"],
        ),
        "copy_into": lambda: delta_writer.copy_into(spark, t, src),
    }
    for name, op in refused.items():
        with pytest.raises(ValueError, match="CHECK constraint"):
            op()
        assert _tree(t) == before, name
        assert delta_writer.current_version(t) == version, name
