"""Oracle checks for events, text-analysis, and dedup plan families."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import SF_ORACLE, job_ids
from tests.oracle_check import compare


def _names(mod):
    return sorted(mod.ORACLE)


def _mod(name):
    import importlib

    return importlib.import_module(f"delta_lake_health_spark.plans.{name}")


@pytest.mark.parametrize("name", _names(_mod("events")))
def test_events_vs_oracle(spark, duck, name):
    m = _mod("events")
    compare(spark, duck, m.QUERIES[name], m.ORACLE[name], SF_ORACLE)


@pytest.mark.parametrize("name", _names(_mod("text")))
def test_text_vs_oracle(spark, duck, name):
    m = _mod("text")
    compare(spark, duck, m.QUERIES[name], m.ORACLE[name], SF_ORACLE)


@pytest.mark.parametrize("name", _names(_mod("dedup")))
def test_dedup_vs_oracle(spark, duck, name):
    m = _mod("dedup")
    compare(spark, duck, m.QUERIES[name], m.ORACLE[name], SF_ORACLE)


def test_dedup_finds_known_duplicates_at_sf01(spark):
    """sf0.1 contains 8 exact-duplicate documents; the LSH candidate set
    must cover every exact-duplicate pair (minhash of identical text is
    identical, so all bands collide)."""
    m = _mod("dedup")
    sf = "/root/testdata/sf0.1"
    exact = {
        (r.keep_doc_id, r.n_copies)
        for r in m.QUERIES["dedup_exact"](spark, sf).collect()
    }
    assert sum(n - 1 for _, n in exact) >= 1, "expected exact dups at sf0.1"
    pairs = {
        (r.doc_a, r.doc_b) for r in m.QUERIES["dedup_minhash_pairs"](spark, sf).collect()
    }
    assert len(pairs) >= sum(n - 1 for _, n in exact)


def test_posting_pairs_bucket_cap_bounds_degenerate_corpus(spark):
    """An adversarial all-identical corpus (every doc in ONE bucket) must
    stay bounded: the posting list is capped at BUCKET_CAP, so the pair
    count is cap*(cap-1)/2 no matter how many docs collide, and the
    capped ids are the deterministic smallest ones."""
    from pyspark.sql import functions as F

    m = _mod("dedup")
    n = 3 * m.BUCKET_CAP  # 3x over the cap
    rows = spark.range(n).select(
        F.lit("same-bucket").alias("k"), F.col("id").alias("doc_id")
    )
    pairs = m._posting_pairs(rows, ["k"], "doc_id", "doc_a", "doc_b")
    cap = m.BUCKET_CAP
    assert pairs.count() == cap * (cap - 1) // 2
    assert pairs.agg(F.max("doc_b")).collect()[0][0] == cap - 1


def test_dedup_embedding_cosine_plan_joins_on_lsh_buckets(spark):
    """The near-dup cosine plan must generate candidates from LSH probe
    keys (bkey posting lists), not a label-blocked all-pairs join: no
    `label` column anywhere, no cartesian/nested-loop join."""
    m = _mod("dedup")
    df = m.QUERIES["dedup_embedding_cosine"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "label" not in plan
    # the pair source is the capped posting-list expansion
    assert "ds" in plan or "bkey" in plan


@pytest.mark.parametrize("name", _names(_mod("health")))
def test_health_vs_oracle(spark, duck, name):
    m = _mod("health")
    compare(spark, duck, m.QUERIES[name], m.ORACLE[name], SF_ORACLE)


@pytest.mark.parametrize("name", _names(_mod("media")))
def test_media_vs_oracle(spark, duck, name):
    m = _mod("media")
    compare(spark, duck, m.QUERIES[name], m.ORACLE[name], SF_ORACLE)


def test_dedup_clusters_consistent_with_pairs(spark):
    """Every candidate pair must land in the same cluster, and cluster ids
    are the component-min doc_id."""
    m = _mod("dedup")
    sf = "/root/testdata/sf0.01"
    pairs = [(r.doc_a, r.doc_b) for r in m.QUERIES["dedup_minhash_pairs"](spark, sf).collect()]
    clusters = {r.doc_id: r.cluster for r in m.QUERIES["dedup_clusters"](spark, sf).collect()}
    for a, b in pairs:
        assert clusters[a] == clusters[b], (a, b)
    assert all(c <= d for d, c in clusters.items())  # cluster id is a min


def test_propagate_min_labels_non_numeric_ids(spark):
    """The convergence probe must not rely on a decimal cast for string
    ids (the cast nulls out and would fake instant convergence); the
    changed-count fallback must still run propagation to the fixed
    point. Chain a-b-c-d needs >1 round to converge, plus a separate
    pair and a self-edge singleton."""
    from pyspark.sql import functions as F

    from delta_lake_health_spark.plans.dedup import propagate_min_labels

    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("a", "b"), ("x", "y"), ("z", "z")],
        "doc_a string, doc_b string",
    )
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    got = {r.doc_id: r.cluster for r in propagate_min_labels(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "x": "x", "y": "x", "z": "z"}


_long_pairs = st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=20)
_str_ids = st.text(alphabet="abc", min_size=1, max_size=3)
_str_pairs = st.lists(st.tuples(_str_ids, _str_ids), max_size=20)


@settings(deadline=None, max_examples=12,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.one_of(_long_pairs.map(lambda p: ("long", p)),
                 _str_pairs.map(lambda p: ("string", p))))
def test_driver_union_find_matches_propagation(spark, typed_pairs):
    """The driver-side union-find labels every node of a random edge
    list (self-edges, long or string ids) with the same component min as
    the distributed min-label propagation."""
    from pyspark.sql import functions as F

    from delta_lake_health_spark.plans.dedup import min_labels, propagate_min_labels

    kind, pairs = typed_pairs
    df = spark.createDataFrame(pairs, f"doc_a {kind}, doc_b {kind}")
    edges = df.unionByName(
        df.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    want = {r.doc_id: r.cluster for r in propagate_min_labels(edges).collect()}
    assert min_labels([a for a, _ in pairs], [b for _, b in pairs]) == want


@pytest.mark.parametrize("mod,name,warns", [
    ("text", "text_quality_lr_train", "text_quality_lr_train"),
    ("dedup", "dedup_clusters", "cluster_labels"),
])
def test_driver_state_fallback_returns_same_rows(spark, monkeypatch, mod, name, warns):
    """Past DRIVER_STATE_ROWS a plan warns and keeps its distributed
    loop, which returns the rows the driver path returns."""
    from delta_lake_health_spark import plans

    fn = _mod(mod).QUERIES[name]
    driver = sorted(tuple(r) for r in fn(spark, SF_ORACLE).collect())
    monkeypatch.setattr(plans, "DRIVER_STATE_ROWS", 0)
    with pytest.warns(UserWarning, match=warns):
        df = fn(spark, SF_ORACLE)
    assert sorted(tuple(r) for r in df.collect()) == driver


@pytest.mark.parametrize("mod,name,most", [
    ("text", "text_quality_lr_train", 2),
    ("dedup", "dedup_clusters", 6),
])
def test_driver_state_plans_build_in_few_jobs(spark, mod, name, most):
    """LR training builds in one grouping pass, and the duplicate
    clusters in the candidate pipeline plus one collect: no Spark job
    per gradient or propagation round."""
    fn = _mod(mod).QUERIES[name]
    assert len(job_ids(spark, lambda: fn(spark, SF_ORACLE))) <= most
