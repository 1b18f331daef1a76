from __future__ import annotations

import sys
import time
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def job_ids(spark, fn) -> list:
    """Ids of the Spark jobs ``fn`` launches, read from a job group; a
    job in a later control group proves the tracker has seen them all."""
    sc = spark.sparkContext
    group, control = f"probe-{time.time_ns()}", f"control-{time.time_ns()}"
    sc.setJobGroup(group, "probe")
    try:
        fn()
        sc.setJobGroup(control, "control")
        spark.range(3).count()
        deadline = time.time() + 30
        while not sc.statusTracker().getJobIdsForGroup(control):
            assert time.time() < deadline, "control job never reached the tracker"
            time.sleep(0.1)
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="session")
def spark():
    from delta_lake_health_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from delta_lake_health_spark.sources.catalog import TABLES

    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()
