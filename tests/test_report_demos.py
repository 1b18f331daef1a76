"""Report data-prep + demo population tests (SURVEY D19/D20)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from delta_lake_health_spark import demos
from delta_lake_health_spark.operators import report
from delta_lake_health_spark.operators.health import HealthAnalyzer
from delta_lake_health_spark.sources import delta_writer
from delta_lake_health_spark.sources.delta_log import DeltaLog


@pytest.fixture(scope="module")
def sample_tables(spark):
    base = tempfile.mkdtemp()
    paths = demos.populate_sample_tables(spark, base)
    yield paths
    shutil.rmtree(base, ignore_errors=True)


def test_demo_tables_health(spark, sample_tables):
    skew_simple = HealthAnalyzer(spark).analyze_table(
        sample_tables["simple"], collect_partitions=False
    )
    skew_skewed = HealthAnalyzer(spark).analyze_table(
        sample_tables["skewed"], collect_partitions=False
    )
    assert skew_simple.skewness_max < 0.05
    assert skew_skewed.skewness_max > 0.5
    assert skew_skewed.is_skewed and not skew_simple.is_skewed


def test_ops_timeline(spark, sample_tables):
    tl = report.ops_timeline(spark, sample_tables["complex"]).collect()
    ops = [r.operation for r in tl]
    assert ops[0] == "WRITE" and "DELETE" in ops and "OPTIMIZE" in ops
    versions = [r.version for r in tl]
    assert versions == sorted(versions)
    assert all(r.num_files_added >= 0 for r in tl)


def test_file_size_histogram(spark, sample_tables):
    h = report.file_size_histogram(spark, sample_tables["complex"]).collect()
    log = DeltaLog(spark, sample_tables["complex"])
    assert sum(r.n_files for r in h) == log.active_files().count()
    assert all(r.bin_end_mb > r.bin_start_mb for r in h)


def test_partition_records(spark, sample_tables, tmp_path):
    pr = report.partition_records(spark, sample_tables["simple"]).collect()
    assert len(pr) == 5  # five day partitions
    assert sum(r.n_records for r in pr) == 1500
    assert all(r.partition_key.startswith("day=") for r in pr)

    # a null partition value is labelled like its hive directory
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, [None, "a"][i % 2], [None, 3][i % 2 if i < 6 else 1]) for i in range(10)],
        "id long, p string, k int",
    )
    delta_writer.write(spark, df.coalesce(1), path, partition_by=["p", "k"])
    pr = {r.partition_key: r.n_records for r in report.partition_records(spark, path).collect()}
    assert pr == {
        "p=__HIVE_DEFAULT_PARTITION__/k=__HIVE_DEFAULT_PARTITION__": 3,
        "p=__HIVE_DEFAULT_PARTITION__/k=3": 2,
        "p=a/k=3": 5,
    }


def test_historical_trends(spark, sample_tables):
    log = DeltaLog(spark, sample_tables["complex"])
    tr = report.historical_trends(spark, sample_tables["complex"]).collect()
    assert tr[-1].record_count == log.record_count()
    assert tr[-1].data_file_count == log.active_files().count()
    # cumulative series never negative
    assert all(r.table_size_bytes >= 0 and r.data_file_count >= 0 for r in tr)


def test_demo_health_report_prints_all_tables(spark, capsys, tmp_path):
    out = demos.demo_health_report(spark, str(tmp_path / "samples"))
    printed = capsys.readouterr().out
    assert set(out) == {"simple", "skewed", "complex"}
    assert printed.count("Delta Table Analysis Results:") == 3
    for name, metrics in out.items():
        assert f"=== {name} " in printed
        assert metrics.health_score is not None
    # the skewed table must actually read as more skewed than the simple one
    assert out["skewed"].skewness_max > out["simple"].skewness_max


def test_curate_corpus_to_delta_exactly_once(spark, tmp_path):
    """The corpus pipeline lands in a Delta table split-partitioned with
    a txn replay guard: rerunning the same batch id is a no-op, a new
    batch id appends, and the per-split counts match the oracle-checked
    pipeline_corpus_build aggregate."""
    from delta_lake_health_spark import demos
    from delta_lake_health_spark.plans.dedup import QUERIES as DEDUP_Q
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "corpus")
    res = demos.curate_corpus_to_delta(spark, sf, out, batch_id=0)
    assert res["total_docs"] > 0
    # parity with the oracle-checked census (sum over langs per split)
    want = {}
    for r in DEDUP_Q["pipeline_corpus_build"](spark, sf).collect():
        want[r.split] = want.get(r.split, 0) + r.n_docs
    assert res["splits"] == want

    # replay of the same batch: no-op (same version, same counts)
    res2 = demos.curate_corpus_to_delta(spark, sf, out, batch_id=0)
    assert res2["version"] == res["version"]
    assert res2["splits"] == res["splits"]

    # the produced table is a real Delta table: partitioned, analyzable
    log = DeltaLog(spark, out)
    assert log.partition_columns() == ["split"]
    assert set(log.snapshot().columns) == {
        "doc_id", "text", "lang", "source", "n_chars", "split"
    }
    # a NEW batch id appends (the guard keys on the version watermark)
    res3 = demos.curate_corpus_to_delta(spark, sf, out, batch_id=1)
    assert res3["version"] > res["version"]
    assert res3["total_docs"] == 2 * res["total_docs"]


def test_generate_visual_report_end_to_end(spark, tmp_path):
    """The notebook-walkthrough composition (round-5 verdict #8): sample
    tables -> analyzer -> log inspection -> all five dashboards, every
    figure a serializable plotly-schema dict."""
    import json

    from delta_lake_health_spark.demos import generate_visual_report

    report = generate_visual_report(spark, str(tmp_path / "vis"))
    assert set(report) == {"simple", "skewed", "complex"}
    for name, entry in report.items():
        assert entry["metrics"].table_path
        assert entry["history_ops"].get("WRITE", 0) >= 1
        assert entry["n_files"] == len(entry["file_uris"]) > 0
        assert entry["metadata"].get("partition_columns") == ["day"]
        assert set(entry["figures"]) == {
            "health_dashboard", "skew_analysis", "file_distribution",
            "delta_operations", "historical_trends",
        }
        for fig in entry["figures"].values():
            assert fig["data"], "figure has no traces"
            json.dumps(fig)  # plotly-schema dicts must be serializable
    # the skewed table's history shows appends; complex shows the delete
    assert report["complex"]["history_ops"].get("DELETE", 0) >= 1
