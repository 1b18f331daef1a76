"""Property tests (SURVEY §5): score/skew bounds against a pure-Python
reference implementation of the reference repo's formulas."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from delta_lake_health_spark.operators.health import HealthMetrics, health_score
from delta_lake_health_spark.operators.skew import (
    records_per_partition,
    skew_metrics,
    skewness_agg,
)

metrics_strategy = st.builds(
    HealthMetrics,
    number_of_writes=st.integers(0, 1000),
    number_of_optimizes=st.integers(0, 100),
    needs_vacuum=st.booleans(),
    skewness_max=st.floats(0, 1),
    small_files_count=st.integers(0, 10_000),
    has_orphan_files=st.booleans(),
)


@given(metrics_strategy)
def test_health_score_bounded(m):
    score, status = health_score(m)
    assert 0.0 <= score <= 100.0
    assert status is not None


@given(st.integers(0, 1000), st.integers(0, 100))
def test_health_score_monotone_in_writes(w, opt):
    """More writes never lowers the freshness component (all else equal)."""
    lo = HealthMetrics(number_of_writes=w, number_of_optimizes=opt)
    hi = HealthMetrics(number_of_writes=w + 1, number_of_optimizes=opt)
    # optimize ratio shrinks as writes grow, so compare freshness-only
    fresh_lo = min(lo.number_of_writes / 10 * 25.0, 25.0)
    fresh_hi = min(hi.number_of_writes / 10 * 25.0, 25.0)
    assert fresh_hi >= fresh_lo


def _py_skew(counts: list[int]) -> tuple[float, float]:
    """The reference's formulas (delta_python_analyzer.py:68-73)."""
    if len(counts) <= 1 or max(counts) == 0:
        return 0.0, 0.0
    mx, mn = max(counts), min(counts)
    mean = sum(counts) / len(counts)
    avg_dev = sum(abs(c - mean) for c in counts) / len(counts)
    return (mx - mn) / mx, (avg_dev / mean if mean else 0.0)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.integers(1, 50), min_size=1, max_size=6))
def test_skewness_matches_python_reference(spark, sizes):
    rows = [(f"p{i}",) for i, n in enumerate(sizes) for _ in range(n)]
    df = spark.createDataFrame(rows, "k string")
    got = skewness_agg(records_per_partition(df, ["k"])).collect()[0]
    want_max, want_avg = _py_skew(sizes)
    assert abs(got.skewness_max - round(want_max, 6)) < 1e-9
    assert abs(got.skewness_average - round(want_avg, 6)) < 1e-9
    assert 0.0 <= got.skewness_max <= 1.0
    assert got.n_partitions == len(sizes)
    # the driver-side formula the health report uses gives the same doubles
    py = skew_metrics({f"p{i}": n for i, n in enumerate(sizes)}, ["k"])
    assert (py["skewness_max"], py["skewness_average"]) == (
        got.skewness_max, got.skewness_average,
    )


# --- as-of / range join vs naive pure-Python references --------------------

_event_lists = st.lists(
    st.tuples(
        st.integers(0, 3),        # key
        st.integers(0, 1_000),    # ts
        st.integers(0, 10_000),   # id/tiebreak
    ),
    min_size=0,
    max_size=30,
)


@settings(deadline=None, max_examples=15,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_event_lists, _event_lists, st.integers(1, 500))
def test_asof_join_matches_naive(spark, lefts, rights, tol):
    """asof_backward_join == argmax-over-qualifying-rights, per left row."""
    from delta_lake_health_spark.operators.asof import asof_backward_join

    ldf = spark.createDataFrame(
        [(k, t, i) for k, t, i in lefts] or [(0, -1, -1)],
        "k int, lts long, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, t, i) for k, t, i in rights] or [(99, -1, -1)],
        "k int, rts long, rid long",
    )
    got = {
        (r.k, r.lts, r.lid): (r._asof_ts, r.rid_out)
        for r in asof_backward_join(
            ldf, rdf, ["k"], "lts", "rts",
            payload={"rid_out": "rid"}, tolerance=tol, right_tiebreak="rid",
        ).collect()
    }
    for k, lt, lid in (lefts or [(0, -1, -1)]):
        q = [
            (rt, rid)
            for rk, rt, rid in (rights or [(99, -1, -1)])
            if rk == k and rt <= lt and rt > lt - tol
        ]
        want = max(q) if q else None
        have = got[(k, lt, lid)]
        if want is None:
            assert have[0] is None, (k, lt, have)
        else:
            assert have == want, (k, lt, have, want)


@settings(deadline=None, max_examples=15,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500)),
             min_size=0, max_size=20),
    st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500),
                       st.integers(0, 200)),
             min_size=0, max_size=10),
    st.integers(1, 300),
)
def test_interval_point_join_matches_naive(spark, points, intervals, bucket):
    """Bucketized interval join == plain BETWEEN filter, any bucket width."""
    from delta_lake_health_spark.operators.rangejoin import interval_point_join

    pdf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(points)] or [(0, -1, -1)],
        "k int, pt long, pid long",
    )
    ivls = [(k, s, s + d, i) for i, (k, s, d) in enumerate(intervals)]
    idf = spark.createDataFrame(
        ivls or [(99, -1, -1, -1)], "k int, s long, e long, iid long"
    )
    got = {
        (r.pid, r.iid)
        for r in interval_point_join(
            pdf, idf, ["k"], "pt", "s", "e", bucket=bucket
        ).collect()
    }
    want = {
        (pid, iid)
        for pid, (pk, pt) in enumerate(points)
        for ik, s, e, iid in ivls
        if ik == pk and s <= pt <= e
    }
    if points:
        assert got == want


def test_interval_point_join_left_null_columns(spark):
    """how='left' must emit each point exactly once even when a MATCHED
    point row contains a NULL payload column (the old all-columns
    anti-join never matched NULL=NULL, double-emitting the row)."""
    from delta_lake_health_spark.operators.rangejoin import interval_point_join

    pdf = spark.createDataFrame(
        [(1, 10, None), (1, 500, None), (2, 10, "x")],
        "k int, pt long, payload string",
    )
    idf = spark.createDataFrame([(1, 5, 20, 7)], "k int, s long, e long, iid long")
    rows = interval_point_join(
        pdf, idf, ["k"], "pt", "s", "e", bucket=16, how="left"
    ).collect()
    assert len(rows) == 3  # one row per point, no duplicates
    by_pt = {(r.k, r.pt): r for r in rows}
    assert by_pt[(1, 10)].iid == 7          # matched despite NULL payload
    assert by_pt[(1, 500)].iid is None      # unmatched -> null-padded
    assert by_pt[(2, 10)].iid is None


# --- Gopher quality flags vs a pure-Python reference ------------------------

_word = st.sampled_from(["the", "a", "of", "row", "value", "zz", "qq",
                         "verylongwordhere", "x"])


@settings(deadline=None, max_examples=10,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(_word, min_size=1, max_size=60),
                min_size=1, max_size=8))
def test_gopher_flags_match_python(spark, corpora):
    from delta_lake_health_spark.plans.text import STOPWORDS, gopher_flags

    docs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpora)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_flags(docs, "doc_id").collect()}
    for i, ws in enumerate(corpora):
        text = " ".join(ws)
        n_tok, n = len(ws), len(text)
        mean_len = (n - n_tok + 1) / n_tok
        r = got[i]
        assert r.ok_word_count == (20 <= n_tok <= 100000)
        assert r.ok_mean_word_len == (2 <= mean_len <= 10)
        assert r.ok_stopwords == (sum(w in STOPWORDS for w in ws) >= 2)
        assert r.ok_distinct_ratio == (len(set(ws)) / n_tok >= 0.2)


@settings(deadline=None, max_examples=8,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(_word, min_size=1, max_size=30),
                min_size=1, max_size=6))
def test_shingle_duplication_fraction_matches_python(spark, corpora):
    """dedup_shingle_duplication's per-source fraction == a naive Python
    recomputation of distinct 8-token windows shared across docs."""
    import hashlib

    from delta_lake_health_spark.plans import dedup as m

    w = m.SHINGLE_W
    rows = [(i, " ".join(ws), "s") for i, ws in enumerate(corpora)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # reuse the query body by monkey-free invocation: same expressions
    from pyspark.sql import functions as F

    t = F.split(F.col("text"), " ")
    sh = (
        docs.where(F.size(t) >= w)
        .select(
            "doc_id", "source",
            F.explode(F.expr(
                f"transform(sequence(1, size(split(text, ' ')) - {w - 1}),"
                f" i -> md5(concat_ws(' ', slice(split(text, ' '), i, {w}))))"
            )).alias("h"),
        )
        .distinct()
    )
    counts = sh.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    got_rows = sh.join(counts, "h").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_dup"),
    ).collect()

    # naive python
    per_doc = []
    for ws in corpora:
        if len(ws) < w:
            per_doc.append(set())
            continue
        per_doc.append({
            hashlib.md5(" ".join(ws[i:i + w]).encode()).hexdigest()
            for i in range(len(ws) - w + 1)
        })
    total = sum(len(s) for s in per_doc)
    from collections import Counter

    c = Counter(h for s in per_doc for h in s)
    dup = sum(1 for s in per_doc for h in s if c[h] > 1)
    if total == 0:
        assert got_rows == []
    else:
        assert got_rows[0].n_shingles == total
        assert got_rows[0].n_dup == dup


@settings(deadline=None, max_examples=12,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_event_lists, _event_lists, st.integers(1, 500))
def test_asof_forward_matches_naive(spark, lefts, rights, tol):
    """asof_forward_join == argmin-over-qualifying-rights (earliest ts,
    highest tiebreak among equals), per left row."""
    from delta_lake_health_spark.operators.asof import asof_forward_join

    ldf = spark.createDataFrame(
        [(k, t, i) for k, t, i in lefts] or [(0, -1, -1)],
        "k int, lts long, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, t, i) for k, t, i in rights] or [(99, -1, -1)],
        "k int, rts long, rid long",
    )
    got = {
        (r.k, r.lts, r.lid): (r._asof_ts, r.rid_out)
        for r in asof_forward_join(
            ldf, rdf, ["k"], "lts", "rts",
            payload={"rid_out": "rid"}, tolerance=tol, right_tiebreak="rid",
        ).collect()
    }
    for k, lt, lid in (lefts or [(0, -1, -1)]):
        q = [
            (rt, rid)
            for rk, rt, rid in (rights or [(99, -1, -1)])
            if rk == k and rt >= lt and rt < lt + tol
        ]
        want = min(q, key=lambda x: (x[0], -x[1])) if q else None
        have = got[(k, lt, lid)]
        if want is None:
            assert have[0] is None, (k, lt, have)
        else:
            assert have == want, (k, lt, have, want)


@settings(deadline=None, max_examples=12,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_event_lists, _event_lists, st.integers(1, 500))
def test_asof_nearest_matches_naive(spark, lefts, rights, tol):
    """asof_nearest_join == min-|distance| with past-preferred ties,
    per left row."""
    from delta_lake_health_spark.operators.asof import asof_nearest_join

    ldf = spark.createDataFrame(
        [(k, t, i) for k, t, i in lefts] or [(0, -1, -1)],
        "k int, lts long, lid long",
    )
    rdf = spark.createDataFrame(
        [(k, t, i) for k, t, i in rights] or [(99, -1, -1)],
        "k int, rts long, rid long",
    )
    got = {
        (r.k, r.lts, r.lid): (r._asof_ts, r.rid_out)
        for r in asof_nearest_join(
            ldf, rdf, ["k"], "lts", "rts",
            payload={"rid_out": "rid"}, tolerance=tol, right_tiebreak="rid",
        ).collect()
    }
    for k, lt, lid in (lefts or [(0, -1, -1)]):
        qb = [
            (rt, rid)
            for rk, rt, rid in (rights or [(99, -1, -1)])
            if rk == k and rt <= lt and rt > lt - tol
        ]
        qf = [
            (rt, rid)
            for rk, rt, rid in (rights or [(99, -1, -1)])
            if rk == k and rt >= lt and rt < lt + tol
        ]
        bb = max(qb) if qb else None
        bf = min(qf, key=lambda x: (x[0], -x[1])) if qf else None
        if bb is None:
            want = bf
        elif bf is None:
            want = bb
        else:
            want = bb if (lt - bb[0]) <= (bf[0] - lt) else bf
        have = got[(k, lt, lid)]
        if want is None:
            assert have[0] is None, (k, lt, have)
        else:
            assert have == want, (k, lt, have, want)
