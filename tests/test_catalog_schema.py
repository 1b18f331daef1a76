"""Catalog loads take their schema from the parquet footer: the mapping
must equal what Spark's own inference would give, and a load must launch
no Spark job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from delta_lake_health_spark.sources.catalog import TABLES, footer_schema, load, table_path
from tests.conftest import SF_DIR, job_ids

TESTDATA = os.path.dirname(SF_DIR)


def _inferred(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_equals_inferred(spark, sf):
    sf_dir = os.path.join(TESTDATA, sf)
    for name in TABLES:
        path = table_path(sf_dir, name)
        assert footer_schema(path) == _inferred(spark, path), name


def test_nanos_events_keep_both_timestamp_branches(spark, tmp_path):
    """TIMESTAMP(NANOS) maps to the raw long that ``load`` turns into
    micros; a UTC-adjusted column maps to TIMESTAMP, a local one to
    TIMESTAMP_NTZ, exactly as inference does."""
    sf_dir = str(tmp_path)
    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "at_utc": pa.array([n // 1000 for n in ns], pa.timestamp("us", tz="UTC")),
            "at_local": pa.array([n // 1000 for n in ns], pa.timestamp("us")),
        }),
        table_path(sf_dir, "events"),
    )
    path = table_path(sf_dir, "events")
    assert footer_schema(path) == _inferred(spark, path)
    got = load(spark, sf_dir, "events").selectExpr("unix_micros(ts) AS us").collect()
    assert [r.us for r in got] == [n // 1000 for n in ns]


def test_load_launches_no_spark_job(spark):
    assert job_ids(spark, lambda: [load(spark, SF_DIR, t).schema for t in TABLES]) == []
