"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from spans import Tracer, attribute_jobs, subtree_jobs  # noqa: E402
from stats import OpLog, checksum_mismatches, percentile, result_checksums, self_times  # noqa: E402


# -- percentile rule ---------------------------------------------------------------
def test_p90_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(99)], 0.9) is None
    assert percentile([float(i) for i in range(100)], 0.9) == pytest.approx(89.1)


def test_empty_sample_has_no_percentile():
    assert percentile([], 0.5) is None


# -- self time -------------------------------------------------------------------
def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent, "layer": "x", "name": "x"}


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0),
             _span(3, 1.5, 2.0, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(7.0)
    assert st[1] == pytest.approx(1.5)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(0.5)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    # two pooled children running concurrently inside one parent
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 6.0, 0), _span(2, 4.0, 8.0, 0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, 0.0, 4.0), _span(1, 3.0, 9.0, 0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_tracer_nests_spans_and_attributes_jobs_to_innermost():
    t = Tracer(enabled=True)
    with t.span("op", "a"):
        with t.span("inner", "b") as inner:
            pass
    outer = t.spans[0]
    assert inner["parent"] == outer["id"]
    mid = (inner["start"] + inner["end"]) / 2
    jobs = {0: {"submit": mid}, 1: {"submit": outer["end"] + 100}}
    by_span = attribute_jobs(t.spans, jobs)
    assert [j["submit"] for j in by_span[inner["id"]]] == [mid]
    assert len(by_span[None]) == 1
    assert subtree_jobs(t.spans, by_span) == {outer["id"]: 1, inner["id"]: 1}


def test_wrapper_records_span_and_restores():
    import types

    mod = types.ModuleType("delta_lake_health_spark._fake")
    mod.f = lambda x: x + 1
    sys.modules[mod.__name__] = mod
    try:
        t = Tracer(enabled=True)
        orig = mod.f
        t.patch_function(mod, "f", "layer")
        assert mod.f(1) == 2
        assert [s["name"] for s in t.spans] == ["layer.f"]
        t.uninstall()
        assert mod.f is orig
    finally:
        del sys.modules[mod.__name__]


# -- failure counting ----------------------------------------------------------------
def test_failures_count_raised_and_failed_checks():
    log = OpLog()
    log.record("a", 1.0, True)
    log.record("a", 2.0, False, "raised")
    log.record("b", 3.0, False, "check failed")
    log.record("b", 4.0, True)
    assert (log.attempted, log.failed) == (4, 2)
    assert log.failed_frac == 0.5
    # failed ops contribute no latency
    assert log.latencies() == [1.0, 4.0]
    assert log.latencies(("b",)) == [4.0]


def test_workload_op_counts_exceptions_and_check_failures():
    from workloads import Workload, expect

    log = OpLog()
    wl = Workload(None, "/nonexistent", 0, Tracer(enabled=False), log, lambda: 0.0)
    assert wl.op("ok", "l", lambda: 1, lambda r: expect(r == 1, "one")) == 1
    assert wl.op("raises", "l", lambda: 1 / 0, lambda r: None) is None
    wl.op("bad", "l", lambda: 2, lambda r: expect(r == 1, "want one"))
    assert [o["ok"] for o in log.ops] == [True, False, False]
    assert "ZeroDivisionError" in log.ops[1]["detail"]
    assert "want one" in log.ops[2]["detail"]


# -- result checksums ------------------------------------------------------------
def test_checksums_ignore_row_and_column_order_and_float_noise():
    a = result_checksums(["x", "Y"], [(1, 0.1 + 0.2), (2, 5.0)])
    b = result_checksums(["y", "X"], [(5.0, 2), (0.3, 1)])
    assert checksum_mismatches(a, b) == []


def test_checksums_catch_wrong_values_counts_and_nulls():
    want = result_checksums(["k", "s"], [(1, "ab"), (2, "c")])
    assert checksum_mismatches(result_checksums(["k", "s"], [(1, "ab"), (3, "c")]), want)
    assert checksum_mismatches(result_checksums(["k", "s"], [(1, "ab")]), want)
    assert checksum_mismatches(result_checksums(["k", "s"], [(1, "ab"), (2, None)]), want)
    assert checksum_mismatches(result_checksums(["k", "t"], [(1, "ab"), (2, "c")]), want)


def test_checksum_terms_for_dates_and_lists():
    import datetime

    got = result_checksums(["d", "t", "l"], [(datetime.date(1970, 1, 3),
                                              datetime.datetime(1970, 1, 1, 0, 0, 1),
                                              [1, 2, 3])])
    assert got["columns"] == {"d": [1, 2.0], "t": [1, 1e6], "l": [1, 3.0]}


# -- determinism -------------------------------------------------------------------
def test_same_seed_same_tables():
    a = datagen.make_tables(7, 0.001)
    b = datagen.make_tables(7, 0.001)
    c = datagen.make_tables(8, 0.001)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])


def _workload(cls, seed):
    return cls(None, "/nonexistent", seed, Tracer(enabled=False), OpLog(), lambda: 0.0)


def test_same_seed_same_op_sequence_and_rows():
    from workloads import HealthCheck, QueryMix

    q1, q2, q3 = (_workload(QueryMix, s) for s in (3, 3, 4))
    assert [q1.pass_order() for _ in range(3)] == [q2.pass_order() for _ in range(3)]
    assert q1.pass_order() != q3.pass_order()
    h1, h2, h3 = (_workload(HealthCheck, s) for s in (3, 3, 4))
    assert h1._lineitem(50, skewed=True).equals(h2._lineitem(50, skewed=True))
    assert not h1._lineitem(50).equals(h3._lineitem(50))


def test_expected_results_cover_the_query_mix():
    from workloads import QUERY_MIX, load_expected

    exp = load_expected()
    assert exp["data_seed"] == datagen.QUERY_DATA_SEED
    assert set(exp["queries"]) == set(QUERY_MIX)


def test_per_layer_reports_every_listed_metric():
    from layers import PER_LAYER, per_layer

    got = per_layer([], {}, n_ops=1, session_s=1.0, retained_mb=0.0, wrapper_s=0.0)
    assert list(got) == PER_LAYER


def test_benchmark_json_lists_what_run_reports():
    import json

    from layers import PER_LAYER
    from run import END_TO_END, GATED

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as f:
        doc = json.load(f)
    assert sorted(m["name"] for m in doc["end_to_end"]) == sorted(GATED)
    riding = [k for k in END_TO_END if k not in GATED + ("op_p90_s",)]
    assert [m["name"] for m in doc["per_layer"]] == PER_LAYER + riding
