"""VARIANT data type through the Delta writer/reader (D74, Delta 4.x
``variantType``).

Contract: a table created with a VariantType column carries the
variantType reader+writer feature from version 0 (the shredded parquet
encoding is unreadable to engines without variant support, so both
sides gate); a variant column appended onto an existing plain table
upgrades the protocol in the same commit; add-action stats survive the
pyarrow footer gap (numRecords recovered via the DuckDB footer read,
no min/max for variant per spec); snapshots, time travel, checkpoints
and DV deletes all work over variant data.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog


def _vdf(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id",
        F.parse_json(
            F.concat(
                F.lit('{"k": '),
                (F.col("id") % 3).cast("string"),
                F.lit(', "tag": "t"}'),
            )
        ).alias("pv"),
    )


@pytest.fixture()
def vtable(spark, tmp_path):
    path = str(tmp_path / "vt")
    delta_writer.write(spark, _vdf(spark, 0, 10), path)
    return path


def test_variant_create_gates_protocol(spark, vtable):
    p = DeltaLog(spark, vtable).protocol()
    assert p["minReaderVersion"] == 3 and p["minWriterVersion"] == 7
    assert "variantType" in p["readerFeatures"]
    assert "variantType" in p["writerFeatures"]


def test_variant_snapshot_and_time_travel(spark, vtable):
    log = DeltaLog(spark, vtable)
    snap = log.snapshot()
    assert [f.dataType.typeName() for f in snap.schema.fields] == [
        "long", "variant",
    ]
    got = snap.select(
        F.sum(F.variant_get("pv", "$.k", "bigint")).alias("s"),
        F.count_distinct(F.variant_get("pv", "$.tag", "string")).alias("t"),
    ).first()
    assert got.s == 9 and got.t == 1
    delta_writer.write(spark, _vdf(spark, 10, 20), vtable, mode="append")
    log2 = DeltaLog(spark, vtable)
    assert log2.snapshot().count() == 20
    assert log2.snapshot(as_of=0).count() == 10


def test_variant_add_stats_numrecords(spark, vtable):
    """pyarrow cannot open the VARIANT-annotated footer; the add action
    must still carry an exact numRecords (DuckDB fallback) and, per the
    spec, no min/max for the variant column."""
    log = DeltaLog(spark, vtable)
    adds = log.live_add_actions()
    assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == 10
    nonempty = [
        json.loads(a["stats"])
        for a in adds
        if json.loads(a["stats"])["numRecords"] > 0
    ]
    lo = min(st["minValues"]["id"] for st in nonempty)
    hi = max(st["maxValues"]["id"] for st in nonempty)
    assert (lo, hi) == (0, 9)  # plain columns keep skipping stats
    for a in adds:
        st = json.loads(a["stats"])
        assert not any("pv" in k for k in st["minValues"])
        assert not any("pv" in k for k in st["maxValues"])


def test_variant_append_upgrades_existing_table(spark, tmp_path):
    path = str(tmp_path / "plain")
    delta_writer.write(spark, spark.range(0, 5).select("id"), path)
    p0 = DeltaLog(spark, path).protocol()
    assert "readerFeatures" not in p0 or "variantType" not in (
        p0.get("readerFeatures") or []
    )
    df = spark.range(5, 8).select(
        "id", F.parse_json(F.lit('{"x": 1}')).alias("pv")
    )
    v = delta_writer.write(spark, df, path, mode="append", merge_schema=True)
    log = DeltaLog(spark, path)
    p = log.protocol()
    assert "variantType" in p["readerFeatures"]
    assert "variantType" in p["writerFeatures"]
    # the upgrade landed IN the append commit, not a separate one
    acts = log_replay.read_commit(path, v)
    kinds = {k for a in acts for k in a}
    assert "protocol" in kinds and "add" in kinds
    snap = log.snapshot()
    assert snap.count() == 8
    # pre-variant rows read the new column as null variant
    assert snap.where(F.col("pv").isNull()).count() == 5


def test_variant_checkpoint_roundtrip(spark, vtable):
    delta_writer.write(spark, _vdf(spark, 10, 15), vtable, mode="append")
    DeltaLog(spark, vtable).checkpoint()
    log = DeltaLog(spark, vtable)
    assert os.path.exists(
        os.path.join(vtable, "_delta_log", "_last_checkpoint")
    )
    got = (
        log.snapshot()
        .groupBy(F.variant_get("pv", "$.k", "bigint").alias("k"))
        .count()
        .orderBy("k")
        .collect()
    )
    assert [(r.k, r["count"]) for r in got] == [(0, 5), (1, 5), (2, 5)]


def test_variant_dv_delete(spark, vtable):
    """DV delete over a variant table: the anti-join path never touches
    the variant bytes, rows disappear, survivors still decode."""
    delta_writer.delete_with_dv(spark, vtable, "id < 4")
    snap = DeltaLog(spark, vtable).snapshot()
    assert snap.count() == 6
    s = snap.select(
        F.sum(F.variant_get("pv", "$.k", "bigint")).alias("s")
    ).first()
    assert s.s == sum(i % 3 for i in range(4, 10))


def test_plain_column_named_variant_does_not_gate(spark, tmp_path):
    """A LongType column literally named "variant" must not trip the
    variantType protocol gate (the detection is a type walk, not a
    schema-JSON substring test)."""
    path = str(tmp_path / "named")
    delta_writer.write(
        spark, spark.range(0, 5).selectExpr("id", "id AS variant"), path
    )
    p = DeltaLog(spark, path).protocol()
    assert p == {"minReaderVersion": 1, "minWriterVersion": 2,
                 "readerFeatures": [], "writerFeatures": []} or (
        "variantType" not in (p.get("readerFeatures") or [])
        and "variantType" not in (p.get("writerFeatures") or [])
    )


def test_convert_to_delta_gates_variant(spark, tmp_path):
    """CONVERT TO DELTA over a directory of shredded-variant parquet must
    stamp the variantType (3,7) protocol — a (1,2) convert would hand
    non-variant engines bytes they can't decode."""
    d = str(tmp_path / "raw")
    _vdf(spark, 0, 12).write.parquet(d)
    delta_writer.convert_to_delta(spark, d)
    p = DeltaLog(spark, d).protocol()
    assert "variantType" in p["readerFeatures"]
    assert "variantType" in p["writerFeatures"]
    snap = DeltaLog(spark, d).snapshot()
    assert snap.count() == 12
    s = snap.select(
        F.sum(F.variant_get("pv", "$.k", "bigint")).alias("s")
    ).first()
    assert s.s == sum(i % 3 for i in range(12))


def test_duckdb_footer_stats_time_and_nested(spark, tmp_path):
    """ADVICE r10: the DuckDB footer fallback must keep data-skipping
    bounds for TIMESTAMP/DATE columns (emitted as pyarrow-shape ISO
    strings — DuckDB renders them as formatted time strings) and for
    plain nested struct leaves (dotted paths), while every leaf under
    the variant group stays excluded per spec."""
    import datetime

    d = str(tmp_path / "tnv")
    df = spark.range(0, 10).selectExpr(
        "id",
        "parse_json(concat('{\"k\": ', id % 3, '}')) AS pv",
        "timestamp'2024-01-02 03:04:05.123456' + make_interval(0,0,0,id)"
        " AS ts",
        "date'2024-01-02' + CAST(id AS INT) AS d",
        "named_struct('a', id * 2, 'b', concat('v', id)) AS s",
    )
    df.coalesce(1).write.parquet(d)
    import glob

    fp = glob.glob(os.path.join(d, "part-*.parquet"))[0]
    n, mins, maxs = delta_writer._duckdb_footer_stats(fp)
    assert n == 10
    # variant leaves excluded entirely
    assert not any(k.startswith("pv") for k in list(mins) + list(maxs))
    # time-typed columns: ISO strings, pyarrow-isoformat shape
    utc = datetime.timezone.utc
    assert datetime.datetime.fromisoformat(mins["ts"]) == (
        datetime.datetime(2024, 1, 2, 3, 4, 5, 123456, tzinfo=utc)
    )
    assert "T" in mins["ts"] and "T" in maxs["ts"]
    assert datetime.datetime.fromisoformat(maxs["ts"]) == (
        datetime.datetime(2024, 1, 11, 3, 4, 5, 123456, tzinfo=utc)
    )
    assert (mins["d"], maxs["d"]) == ("2024-01-02", "2024-01-11")
    # plain struct leaves: dotted paths, typed bounds
    assert (mins["s.a"], maxs["s.a"]) == (0, 18)
    assert (mins["s.b"], maxs["s.b"]) == ("v0", "v9")
    assert (mins["id"], maxs["id"]) == (0, 9)


def test_duckdb_footer_stats_matches_pyarrow_contract(tmp_path):
    """On a pyarrow-readable file both stat extractors must agree
    key-for-key and value-for-value (the fallback's documented
    contract), including tz-aware timestamp rendering."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    fp = str(tmp_path / "both.parquet")
    t = pa.table(
        {
            "ts": pa.array(
                [
                    datetime.datetime(
                        2024, 1, 2, 3, 4, 5, 123456,
                        tzinfo=datetime.timezone.utc,
                    ),
                    datetime.datetime(
                        2025, 6, 7, tzinfo=datetime.timezone.utc
                    ),
                ],
                type=pa.timestamp("us", tz="UTC"),
            ),
            "d": pa.array(
                [datetime.date(2024, 1, 2), datetime.date(2025, 3, 4)]
            ),
            "i": pa.array([1, 7], type=pa.int64()),
            "x": pa.array([0.5, -1.5], type=pa.float64()),
            "s": pa.array(
                [{"a": 1, "b": "x"}, {"a": 5, "b": "y"}],
                type=pa.struct([("a", pa.int64()), ("b", pa.string())]),
            ),
        }
    )
    pq.write_table(t, fp)
    md = pq.ParquetFile(fp).metadata
    pa_mins, pa_maxs = delta_writer._column_minmax(md)
    _, db_mins, db_maxs = delta_writer._duckdb_footer_stats(fp)
    assert db_mins == pa_mins
    assert db_maxs == pa_maxs


def test_variant_writer_only_feature_gets_reader_gate(spark, tmp_path):
    """ADVICE r10: a foreign (3,7) protocol listing variantType ONLY as
    a writer feature is not "already enabled" — the upgrade must still
    fire and add the reader-side gate, otherwise non-variant readers
    see shredded bytes they cannot decode."""
    path = str(tmp_path / "wonly")
    delta_writer.write(spark, spark.range(0, 3).select("id"), path)
    v = delta_writer.current_version(path) + 1
    delta_writer._commit(
        path,
        v,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": [],
                    "writerFeatures": ["variantType"],
                }
            }
        ],
    )
    act = delta_writer._protocol_upgrade_action(
        log_replay.Snapshot(path), "variantType"
    )
    assert act is not None
    assert "variantType" in act["protocol"]["readerFeatures"]
    assert "variantType" in act["protocol"]["writerFeatures"]
    # and once both sides carry it, the upgrade is a no-op
    delta_writer._commit(path, v + 1, [act])
    assert (
        delta_writer._protocol_upgrade_action(
            log_replay.Snapshot(path), "variantType"
        )
        is None
    )
