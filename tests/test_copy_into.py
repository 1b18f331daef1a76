"""COPY INTO — delta_writer.copy_into (idempotent external-file ingest).

Contract under test: never double-loads a file (identity = name + size +
mtime), loads only the new files of a growing directory, lands data +
loaded-set + commitInfo in one atomic commit, respects partition layout
and CHECK constraints, and refuses schema drift.
"""

from __future__ import annotations

import os

import pytest

from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "copy_tbl")
    seed = spark.range(0, 10).selectExpr(
        "id", "CAST(id * 2 AS BIGINT) AS v"
    )
    delta_writer.write(spark, seed, path)
    return path


def _src_file(spark, tmp_path, name: str, lo: int, hi: int) -> str:
    d = str(tmp_path / "src")
    os.makedirs(d, exist_ok=True)
    df = spark.range(lo, hi).selectExpr("id", "CAST(id * 2 AS BIGINT) AS v")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    part = [
        f for f in os.listdir(str(tmp_path / "stage")) if f.endswith(".parquet")
    ][0]
    os.replace(str(tmp_path / "stage" / part), os.path.join(d, name))
    return d


def test_copy_into_loads_then_skips(spark, tmp_path, table):
    src = _src_file(spark, tmp_path, "a.parquet", 100, 150)
    m1 = delta_writer.copy_into(spark, table, src)
    assert m1["numLoadedFiles"] == 1
    assert DeltaLog(spark, table).snapshot().count() == 60

    # replay: identical directory -> nothing loads, nothing commits
    m2 = delta_writer.copy_into(spark, table, src)
    assert m2 == {
        "numLoadedFiles": 0,
        "numSkippedFiles": 1,
        "version": m1["version"],
    }
    assert DeltaLog(spark, table).snapshot().count() == 60


def test_copy_into_incremental_growth(spark, tmp_path, table):
    src = _src_file(spark, tmp_path, "a.parquet", 100, 150)
    delta_writer.copy_into(spark, table, src)
    _src_file(spark, tmp_path, "b.parquet", 200, 220)
    m = delta_writer.copy_into(spark, table, src)
    assert m["numLoadedFiles"] == 1
    assert m["numSkippedFiles"] == 1
    snap = DeltaLog(spark, table).snapshot()
    assert snap.count() == 80
    assert snap.where("id >= 200").count() == 20


def test_copy_into_single_atomic_commit(spark, tmp_path, table):
    src = _src_file(spark, tmp_path, "a.parquet", 100, 150)
    v_before = delta_writer.current_version(table)
    m = delta_writer.copy_into(spark, table, src)
    assert m["version"] == v_before + 1  # adds + loaded-set in ONE commit
    acts = log_replay.read_commit(table, m["version"])
    kinds = {k for a in acts for k in a}
    assert "add" in kinds and "domainMetadata" in kinds and "commitInfo" in kinds


def test_copy_into_schema_mismatch_refused(spark, tmp_path, table):
    d = str(tmp_path / "src2")
    os.makedirs(d, exist_ok=True)
    spark.range(0, 5).selectExpr("id", "'x' AS other").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage2"))
    part = [
        f
        for f in os.listdir(str(tmp_path / "stage2"))
        if f.endswith(".parquet")
    ][0]
    os.replace(str(tmp_path / "stage2" / part), os.path.join(d, "bad.parquet"))
    with pytest.raises(ValueError, match="schema mismatch"):
        delta_writer.copy_into(spark, table, d)


def test_copy_into_respects_partition_layout(spark, tmp_path):
    path = str(tmp_path / "copy_part")
    seed = spark.range(0, 10).selectExpr(
        "id", "CONCAT('p', CAST(id % 2 AS STRING)) AS day"
    )
    delta_writer.write(spark, seed, path, partition_by=["day"])
    d = str(tmp_path / "src3")
    os.makedirs(d, exist_ok=True)
    spark.range(100, 120).selectExpr(
        "id", "CONCAT('p', CAST(id % 2 AS STRING)) AS day"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage3"))
    part = [
        f
        for f in os.listdir(str(tmp_path / "stage3"))
        if f.endswith(".parquet")
    ][0]
    os.replace(str(tmp_path / "stage3" / part), os.path.join(d, "c.parquet"))
    delta_writer.copy_into(spark, path, d)
    log = DeltaLog(spark, path)
    assert log.snapshot().count() == 30
    # ingested rows landed under hive partition dirs and prune correctly
    assert log.snapshot().where("day = 'p0'").count() == 15
    for a in log.live_add_actions():
        assert a["path"].startswith("day=")


def test_copy_into_modified_file_reloads(spark, tmp_path, table):
    """A source file whose content (size/mtime identity) changed is
    treated as new — matching COPY INTO's FORCE-free re-ingest rule."""
    src = _src_file(spark, tmp_path, "a.parquet", 100, 150)
    delta_writer.copy_into(spark, table, src)
    # rewrite the same file name with different content
    _src_file(spark, tmp_path, "a.parquet", 300, 310)
    m = delta_writer.copy_into(spark, table, src)
    assert m["numLoadedFiles"] == 1
    assert DeltaLog(spark, table).snapshot().where("id >= 300").count() == 10


def test_copy_into_accepts_legacy_ms_identity(spark, tmp_path, table):
    """ADVICE r10: loaded-sets recorded by pre-ns builds used
    size:mtime-ms identities; they must still match (no re-ingest of
    already-loaded files) and upgrade to the ns format on the next
    real commit."""
    import json

    src = _src_file(spark, tmp_path, "a.parquet", 100, 150)
    m1 = delta_writer.copy_into(spark, table, src)
    assert m1["numLoadedFiles"] == 1
    src_key = os.path.abspath(src)

    # rewrite the stored loaded-set exactly as the legacy builds did
    st = os.stat(os.path.join(src, "a.parquet"))
    legacy = {"a.parquet": f"{st.st_size}:{int(st.st_mtime * 1000)}"}
    v = delta_writer.current_version(table) + 1
    delta_writer._commit(
        table,
        v,
        [
            {
                "domainMetadata": {
                    "domain": delta_writer.COPY_INTO_DOMAIN,
                    "configuration": json.dumps({src_key: legacy}),
                    "removed": False,
                }
            }
        ],
    )

    # replay: the legacy identity must match -> nothing re-ingests
    m2 = delta_writer.copy_into(spark, table, src)
    assert m2["numLoadedFiles"] == 0 and m2["numSkippedFiles"] == 1
    assert DeltaLog(spark, table).snapshot().count() == 60

    # a new file arrives: it loads, and the commit UPGRADES the legacy
    # entry to the ns format
    _src_file(spark, tmp_path, "b.parquet", 200, 220)
    m3 = delta_writer.copy_into(spark, table, src)
    assert m3["numLoadedFiles"] == 1 and m3["numSkippedFiles"] == 1
    assert DeltaLog(spark, table).snapshot().count() == 80
    cfg = DeltaLog(spark, table).domain_metadata(
        delta_writer.COPY_INTO_DOMAIN
    )
    st = os.stat(os.path.join(src, "a.parquet"))
    assert cfg[src_key]["a.parquet"] == f"{st.st_size}:{st.st_mtime_ns}"


def test_copy_into_legacy_identity_alternate_derivation(
    spark, tmp_path, table
):
    """ADVICE r10: the old ms identity may have been derived as
    st_mtime_ns // 1e6 instead of int(st_mtime * 1000) — the two can
    disagree by 1 ms under float rounding. Either form (±1 ms) must
    match, and a pure-upgrade run must PERSIST the ns entries in its
    own metadata-only commit so later runs stop re-deriving them."""
    import json

    src = _src_file(spark, tmp_path, "a.parquet", 100, 150)
    delta_writer.copy_into(spark, table, src)
    src_key = os.path.abspath(src)

    st = os.stat(os.path.join(src, "a.parquet"))
    # the worst case: 1 ms off from the ns-floor derivation
    legacy = {
        "a.parquet": f"{st.st_size}:{st.st_mtime_ns // 1_000_000 - 1}"
    }
    v = delta_writer.current_version(table) + 1
    delta_writer._commit(
        table,
        v,
        [
            {
                "domainMetadata": {
                    "domain": delta_writer.COPY_INTO_DOMAIN,
                    "configuration": json.dumps({src_key: legacy}),
                    "removed": False,
                }
            }
        ],
    )

    # replay with NO new files: nothing re-ingests, and the upgraded
    # ns loaded-set lands in a metadata-only commit right away
    before = delta_writer.current_version(table)
    m = delta_writer.copy_into(spark, table, src)
    assert m["numLoadedFiles"] == 0 and m["numSkippedFiles"] == 1
    assert DeltaLog(spark, table).snapshot().count() == 60
    assert m["version"] == before + 1
    cfg = DeltaLog(spark, table).domain_metadata(
        delta_writer.COPY_INTO_DOMAIN
    )
    assert cfg[src_key]["a.parquet"] == f"{st.st_size}:{st.st_mtime_ns}"

    # a second replay matches on the ns identity: no further commit
    m2 = delta_writer.copy_into(spark, table, src)
    assert m2["numLoadedFiles"] == 0
    assert m2["version"] == m["version"]


def test_copy_into_legacy_identity_wrong_ms_reloads(spark, tmp_path, table):
    """The ±1 ms tolerance must not swallow real changes: a legacy
    entry whose ms is off by more than 1 (a genuinely different file
    state) re-ingests."""
    import json

    src = _src_file(spark, tmp_path, "a.parquet", 100, 150)
    delta_writer.copy_into(spark, table, src)
    src_key = os.path.abspath(src)
    st = os.stat(os.path.join(src, "a.parquet"))
    legacy = {
        "a.parquet": f"{st.st_size}:{st.st_mtime_ns // 1_000_000 - 2}"
    }
    v = delta_writer.current_version(table) + 1
    delta_writer._commit(
        table,
        v,
        [
            {
                "domainMetadata": {
                    "domain": delta_writer.COPY_INTO_DOMAIN,
                    "configuration": json.dumps({src_key: legacy}),
                    "removed": False,
                }
            }
        ],
    )
    m = delta_writer.copy_into(spark, table, src)
    assert m["numLoadedFiles"] == 1
