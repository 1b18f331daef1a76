"""Oracle checks + recall property for the similarity-search family."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from tests.oracle_check import compare

from pyspark.sql import functions as F

from delta_lake_health_spark.plans import similarity as sim


@pytest.mark.parametrize("name", sorted(sim.ORACLE))
def test_similarity_vs_oracle(spark, duck, name):
    compare(spark, duck, sim.QUERIES[name], sim.ORACLE[name], SF_ORACLE)


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=3 of 10 lists must recover a solid fraction of the
    exact top-5 neighbours (recall@5 >= 0.5 on the synthetic clusters —
    labels are cluster ids, so the coarse quantizer is well matched)."""
    exact = {
        (r.q_id, r.vec_id)
        for r in sim.QUERIES["ann_bruteforce_topk"](spark, SF_ORACLE).collect()
    }
    approx = {
        (r.q_id, r.vec_id)
        for r in sim.QUERIES["ann_ivf_topk"](spark, SF_ORACLE).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall@{sim.TOP_K} too low: {recall}"


def test_ivf_recall_holds_at_sf01(spark):
    """Same recall floor at 4x the corpus (2000 vectors) — guards the
    k-means quantizer's quality as data grows, not just at oracle SF."""
    sf = "/root/testdata/sf0.1"
    exact = {
        (r.q_id, r.vec_id)
        for r in sim.QUERIES["ann_bruteforce_topk"](spark, sf).collect()
    }
    approx = {
        (r.q_id, r.vec_id)
        for r in sim.QUERIES["ann_ivf_topk"](spark, sf).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall@{sim.TOP_K} at sf0.1 too low: {recall}"


def test_lsh_buckets_partition_corpus(spark):
    df = sim.QUERIES["ann_lsh_buckets"](spark, SF_ORACLE)
    rows = df.collect()
    n = len(rows)
    assert n == len({r.vec_id for r in rows})  # one bucket per vector
    assert all(len(r.bucket) == sim.N_PLANES for r in rows)
    assert sum(r.bucket_size for r in rows) >= n  # sizes consistent


def test_ivf_index_build_once_probe_many(spark):
    """The reusable IVF index (build_ivf_index + search) returns exactly
    the oracle-checked single-shot ann_ivf_topk result for the same
    parameters, and serves a second query set without retraining."""
    from delta_lake_health_spark.operators.ann_index import build_ivf_index, search
    from delta_lake_health_spark.plans import similarity as S
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    emb = S._emb(spark, sf).select("vec_id", "emb")
    index = build_ivf_index(emb, k=S.K_CENTROIDS, iters=S.KMEANS_ITERS,
                            nprobe=S.NPROBE)

    q1 = emb.where(F.col("vec_id") < S.N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    got = [
        (r.q_id, r.vec_id, r.cosine, r.rn)
        for r in search(index, q1, top_k=S.TOP_K, exclude_same_id=True).collect()
    ]
    want = [
        (r.q_id, r.vec_id, r.cosine, r.rn)
        for r in S.QUERIES["ann_ivf_topk"](spark, sf).collect()
    ]
    assert got == want

    # a second, disjoint query set probes the SAME materialized index
    q2 = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 104)).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    out2 = search(index, q2, top_k=3, exclude_same_id=True).collect()
    assert {r.q_id for r in out2} == {100, 101, 102, 103}
    assert all(r.rn <= 3 and -1.0 <= r.cosine <= 1.0 for r in out2)


def test_ivf_index_scale_parameters(spark):
    """100 TB guard-rails of the reusable index: k derives from corpus
    size (~sqrt N, floor 8) instead of a fixed 8, and an inverted list
    wider than max_list_rows is hash-split into (cid, sub) groups so no
    single shuffle key carries the whole hot list. Results stay exact:
    probing all lists returns the true cosine ranking."""
    from pyspark.sql import functions as F

    from delta_lake_health_spark.operators.ann_index import build_ivf_index, search

    # heavily skewed synthetic corpus: 400 near-identical vectors — with
    # k-means init on the lowest ids they all land in one inverted list
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")

    idx = build_ivf_index(emb, k=4, iters=2, nprobe=4, max_list_rows=50)
    widths = idx.lists.groupBy("cid", "sub").count().collect()
    # every list wider than the 50-row budget was split ceil(width/50) ways
    list_rows = {r.cid: r["count"] for r in idx.lists.groupBy("cid").count().collect()}
    n_subs_of = {r.cid: r.n_subs for r in idx.subs.collect()}
    assert all(n_subs_of[c] == -(-w // 50) for c, w in list_rows.items())
    assert max(n_subs_of.values()) >= 2  # the skew actually triggered a split
    # hash split: expected width = budget; allow 2x variance, never the
    # unsplit 400-row list on one key
    assert max(r["count"] for r in widths) <= 100
    # sub ids stay within each list's declared fan-out
    max_sub = idx.lists.groupBy("cid").agg(F.max("sub").alias("m")).collect()
    assert all(r.m < n_subs_of[r.cid] for r in max_sub)

    # k=None derives ~sqrt(N): isqrt(400) = 20
    assert build_ivf_index(emb, iters=1).k == 20

    # correctness through the sub-bucketed join: nprobe=k is exhaustive,
    # so top-3 of query 0 must be the true cosine order 1, 2, 3
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    got = search(idx, q, top_k=3, exclude_same_id=True).collect()
    assert [r.vec_id for r in got] == [1, 2, 3]


def test_pq_adc_recall_vs_bruteforce(spark):
    """ADC over 8-byte codes still finds most of the true neighborhood:
    recall@5 of the exact top-5 must clear 0.5 on the test corpus (PQ
    trades exactness for a 64x memory cut; rerank would recover the
    rest). Also sanity: approx distances are non-negative."""
    got = {}
    for r in sim.QUERIES["ann_pq_adc_topk"](spark, SF_ORACLE).collect():
        got.setdefault(r.q_id, set()).add(r.vec_id)
        assert -1.0 <= r.cosine <= 1.0
    exact = {}
    for r in sim.QUERIES["ann_bruteforce_topk"](spark, SF_ORACLE).collect():
        exact.setdefault(r.q_id, set()).add(r.vec_id)
    hits = sum(len(got[q] & exact[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.5, f"recall@5 = {hits / total:.2f}"


def test_pca_matches_numpy_and_is_orthonormal(spark):
    """fit_pca's one-pass distributed moments must agree with a numpy
    reference PCA on the same vectors (eigenvalue shares to 1e-9,
    components up to sign), components orthonormal, projection = the
    centered matmul."""
    import numpy as np

    from delta_lake_health_spark.operators.pca import fit_pca, project_pca
    from delta_lake_health_spark.plans.similarity import _emb

    sf = "/root/testdata/sf0.001"
    df = _emb(spark, sf)
    k = 6
    model = fit_pca(df, "emb", k)

    x = np.asarray([r.emb for r in df.select("emb").collect()])
    assert model.n == x.shape[0]
    cov = np.cov(x, rowvar=False, bias=True)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1]
    ref_share = evals[:k] / evals.sum()
    assert np.allclose(model.explained, ref_share, atol=1e-9)
    # orthonormal components
    eye = model.components.T @ model.components
    assert np.allclose(eye, np.eye(k), atol=1e-9)
    # projection equals the centered matmul and has descending variance
    proj = project_pca(df, "emb", model)
    y = {r.vec_id: r.pca for r in proj.select("vec_id", "pca").collect()}
    ids = [r.vec_id for r in df.select("vec_id").collect()]
    ys = np.asarray([y[i] for i in ids])
    ref = (x - model.mean) @ model.components
    assert np.allclose(ys, ref, atol=1e-9)
    var = ys.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-12 for i in range(k - 1))


def test_pca_census_query_shape(spark):
    from delta_lake_health_spark.plans.similarity import QUERIES

    rows = QUERIES["embedding_pca_census"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 8
    assert rows[0].explained_share >= rows[-1].explained_share
    assert 0 < rows[-1].cum_share <= 1.0 + 1e-9


def test_ivfpq_recall_and_exact_rerank(spark):
    """The IVF+PQ composition keeps recall@5 >= 0.5 vs brute force on
    the synthetic clusters (same floor as its S2/S8 halves), and every
    returned cosine is EXACT (the rerank runs on full-precision
    vectors), matching the brute-force cosine for the same pair."""
    from tests.conftest import SF_ORACLE

    exact_rows = sim.QUERIES["ann_bruteforce_topk"](spark, SF_ORACLE).collect()
    got_rows = sim.QUERIES["ann_ivf_pq_topk"](spark, SF_ORACLE).collect()
    exact = {(r.q_id, r.vec_id) for r in exact_rows}
    approx = {(r.q_id, r.vec_id) for r in got_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVFPQ recall@{sim.TOP_K} too low: {recall}"
    exact_cos = {(r.q_id, r.vec_id): r.cosine for r in exact_rows}
    for r in got_rows:
        if (r.q_id, r.vec_id) in exact_cos:
            assert r.cosine == exact_cos[(r.q_id, r.vec_id)]


def test_ivfpq_plan_routes_no_cartesian(spark):
    """The corpus enters the compressed scan only through the routed
    candidate join — no CartesianProduct anywhere in the plan."""
    from tests.conftest import SF_DIR

    plan = (
        sim.QUERIES["ann_ivf_pq_topk"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_sq_int8_recall_vs_bruteforce(spark):
    """Symmetric int8-SQ shortlist + exact rerank must recover most of
    the exact top-5 — SQ distorts far less than PQ (8 bits/dim vs
    8 bits/8 dims), so the floor is higher than the PQ one."""
    exact = {
        (r.q_id, r.vec_id)
        for r in sim.QUERIES["ann_bruteforce_topk"](spark, SF_ORACLE).collect()
    }
    approx = {
        (r.q_id, r.vec_id)
        for r in sim.QUERIES["ann_sq_int8_topk"](spark, SF_ORACLE).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"SQ recall@{sim.TOP_K} too low: {recall}"


def test_sq_int8_codes_in_range(spark):
    """Every emitted rank list is exactly TOP_K deep and self-free."""
    rows = sim.QUERIES["ann_sq_int8_topk"](spark, SF_ORACLE).collect()
    per_q = {}
    for r in rows:
        assert r.q_id != r.vec_id
        per_q.setdefault(r.q_id, []).append(r.rn)
    for q, rns in per_q.items():
        assert sorted(rns) == list(range(1, sim.TOP_K + 1)), (q, rns)


def test_ivf_index_persists_as_delta(spark, tmp_path):
    """save/load roundtrip: probes against the loaded index match the
    in-session build exactly, and all three sidecar tables are genuine
    Delta tables (log-reconstructed snapshots, properties intact)."""
    from delta_lake_health_spark.operators import ann_index
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    emb = sim._emb(spark, SF_ORACLE)
    idx = ann_index.build_ivf_index(emb)
    path = str(tmp_path / "ivf")
    ann_index.save_ivf_index(spark, idx, path)
    loaded = ann_index.load_ivf_index(spark, path)
    assert (loaded.k, loaded.nprobe_default) == (idx.k, idx.nprobe_default)

    q = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    want = ann_index.search(idx, q, top_k=5, exclude_same_id=True).collect()
    got = ann_index.search(loaded, q, top_k=5, exclude_same_id=True).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # the lists table is clustered on cid: every live file carries stats
    log = DeltaLog(spark, path + "/lists")
    assert log.snapshot().count() == idx.lists.count()


def test_ivf_index_incremental_upsert(spark, tmp_path):
    """upsert_ivf_index adds vectors to a persisted index WITHOUT
    retraining: quantizer untouched, unchanged lists get append-only
    commits, probes see the union immediately, and a forced sub-bucket
    overflow rebuckets exactly the hot list."""
    from delta_lake_health_spark.operators import ann_index
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    emb = sim._emb(spark, SF_ORACLE)
    base = emb.where("vec_id < 400")
    extra = emb.where("vec_id >= 400 AND vec_id < 450")
    idx = ann_index.build_ivf_index(base)
    path = str(tmp_path / "ivf_up")
    ann_index.save_ivf_index(spark, idx, path)
    cents_before = sorted(
        tuple(r) for r in ann_index.load_ivf_index(spark, path)
        .centroids.collect()
    )
    v_lists = DeltaLog(spark, path + "/lists").version()

    m = ann_index.upsert_ivf_index(spark, path, extra.select("vec_id", "emb"))
    assert m["numAdded"] == 50 and m["numRebucketedLists"] == 0

    loaded = ann_index.load_ivf_index(spark, path)
    # quantizer untouched; every vector present exactly once
    assert sorted(tuple(r) for r in loaded.centroids.collect()) == cents_before
    assert loaded.lists.count() == 450
    assert loaded.lists.select("vec_id").distinct().count() == 450
    # the upsert was a pure append (no rebucketing -> add-only commit)
    log = DeltaLog(spark, path + "/lists")
    from delta_lake_health_spark.sources import log_replay

    acts = log_replay.read_commit(path + "/lists", log.version())
    assert any("add" in a for a in acts)
    assert not any("remove" in a for a in acts)
    assert log.version() > v_lists

    # a query whose nearest neighbor is a NEW vector finds it exactly
    q = extra.where("vec_id = 425").select(
        F.lit(9999).alias("q_id"), F.col("emb").alias("q_emb")
    )
    got = ann_index.search(loaded, q, top_k=1).collect()
    assert got[0].vec_id == 425 and abs(got[0].cosine - 1.0) < 1e-6


def test_ivf_index_upsert_rebuckets_hot_list(spark, tmp_path):
    """With max_list_rows forced tiny, growth past the budget rebuckets
    ONLY the affected lists (delete+rewrite of those cids) and probes
    stay exact over the union."""
    from delta_lake_health_spark.operators import ann_index

    emb = sim._emb(spark, SF_ORACLE)
    base = emb.where("vec_id < 300")
    extra = emb.where("vec_id >= 300 AND vec_id < 380")
    idx = ann_index.build_ivf_index(base, k=4, max_list_rows=40)
    path = str(tmp_path / "ivf_hot")
    ann_index.save_ivf_index(spark, idx, path)

    m = ann_index.upsert_ivf_index(spark, path, extra.select("vec_id", "emb"))
    assert m["numAdded"] == 80 and m["numRebucketedLists"] >= 1

    loaded = ann_index.load_ivf_index(spark, path)
    assert loaded.lists.count() == 380
    assert loaded.lists.select("vec_id").distinct().count() == 380
    # every (cid, sub) group respects the budget's fan-out map
    bad = (
        loaded.lists.groupBy("cid", "sub")
        .count()
        .join(loaded.subs, "cid")
        .where(F.col("sub") >= F.col("n_subs"))
        .count()
    )
    assert bad == 0
    q = extra.where("vec_id = 333").select(
        F.lit(1).alias("q_id"), F.col("emb").alias("q_emb")
    )
    got = ann_index.search(loaded, q, top_k=1).collect()
    assert got[0].vec_id == 333


@pytest.mark.slow
def test_stream_ivf_index_maintenance(spark, tmp_path):
    """D46 + S5 composed: an append-only vectors Delta table tailed by
    delta_tail keeps the persisted IVF index fresh via foreachBatch
    upsert — already-indexed vectors are skipped (crash-replay safe),
    new appends become probe-visible after their drain."""
    from delta_lake_health_spark.operators import ann_index
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.streaming.jobs import (
        stream_ivf_index_maintenance,
    )

    emb = sim._emb(spark, SF_ORACLE).select("vec_id", "emb")
    vec_tbl = str(tmp_path / "vectors")
    idx_path = str(tmp_path / "ivf_stream")
    ckpt = str(tmp_path / "ckpt")
    delta_writer.write(spark, emb.where("vec_id < 300"), vec_tbl)
    idx = ann_index.build_ivf_index(emb.where("vec_id < 300"))
    ann_index.save_ivf_index(spark, idx, idx_path)

    # drain 1: everything already indexed -> no growth
    stream_ivf_index_maintenance(spark, vec_tbl, idx_path, ckpt)
    assert ann_index.load_ivf_index(spark, idx_path).lists.count() == 300

    # append new vectors, drain again -> indexed exactly once
    delta_writer.write(
        spark, emb.where("vec_id >= 300 AND vec_id < 360"), vec_tbl,
        mode="append",
    )
    stream_ivf_index_maintenance(spark, vec_tbl, idx_path, ckpt)
    loaded = ann_index.load_ivf_index(spark, idx_path)
    assert loaded.lists.count() == 360
    assert loaded.lists.select("vec_id").distinct().count() == 360
    q = emb.where("vec_id = 333").select(
        F.lit(1).alias("q_id"), F.col("emb").alias("q_emb")
    )
    assert ann_index.search(loaded, q, top_k=1).collect()[0].vec_id == 333

    # drain 3: no new commits -> index untouched
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    v = DeltaLog(spark, idx_path + "/lists").version()
    stream_ivf_index_maintenance(spark, vec_tbl, idx_path, ckpt)
    assert DeltaLog(spark, idx_path + "/lists").version() == v


def test_ivf_index_upsert_into_empty_centroid(spark, tmp_path):
    """ADVICE r10: build derives the subs table from ASSIGNED rows, so a
    centroid whose list is empty has no subs row. An upsert that assigns
    new vectors to such a centroid must register it (append join and
    probes both inner-join subs — without the row the vectors vanish
    while numAdded still counts them)."""
    from delta_lake_health_spark.operators import ann_index
    from delta_lake_health_spark.sources import delta_writer

    emb = sim._emb(spark, SF_ORACLE)
    base = emb.where("vec_id < 400")
    idx = ann_index.build_ivf_index(base)
    path = str(tmp_path / "ivf_empty_cid")
    ann_index.save_ivf_index(spark, idx, path)

    # empty out one centroid the way build would leave it: no list rows
    # AND no subs row (subs comes from groupBy over assigned vectors)
    loaded0 = ann_index.load_ivf_index(spark, path)
    cid = (
        loaded0.lists.groupBy("cid").count().orderBy("count", "cid").first().cid
    )
    victims = sorted(
        r.vec_id
        for r in loaded0.lists.where(F.col("cid") == cid)
        .select("vec_id")
        .collect()
    )
    assert victims
    delta_writer.delete(spark, path + "/lists", f"cid = {cid}")
    delta_writer.write(
        spark,
        loaded0.subs.where(F.col("cid") != cid).localCheckpoint(),
        path + "/subs",
        mode="overwrite",
    )

    # the victims re-enter: nearest existing centroid is their old one
    back = emb.where(F.col("vec_id").isin([int(v) for v in victims])).select(
        "vec_id", "emb"
    )
    m = ann_index.upsert_ivf_index(spark, path, back)
    assert m["numAdded"] == len(victims)

    loaded = ann_index.load_ivf_index(spark, path)
    # every re-added vector is IN the lists (not silently dropped) ...
    assert (
        loaded.lists.where(F.col("cid") == cid).count() == len(victims)
    )
    # ... the centroid has a subs row again ...
    assert loaded.subs.where(F.col("cid") == cid).count() == 1
    # ... and probes reach it: a query equal to a victim finds itself
    q = emb.where(F.col("vec_id") == int(victims[0])).select(
        F.lit(31337).alias("q_id"), F.col("emb").alias("q_emb")
    )
    got = ann_index.search(loaded, q, top_k=1).collect()
    assert got[0].vec_id == victims[0] and abs(got[0].cosine - 1.0) < 1e-6


def test_mmr_diversifies_vs_plain_topk(spark):
    """S17 contract: (1) rank-1 is the plain relevance argmax; (2) the
    MMR set's mean intra-set similarity is strictly below the plain
    top-K set's (averaged over queries) — the whole point of the
    rerank; (3) every selected id comes from the query's shortlist."""
    import numpy as np

    got = sim.QUERIES["ann_mmr_rerank"](spark, SF_ORACLE).collect()
    plain = sim.QUERIES["ann_bruteforce_topk"](spark, SF_ORACLE).collect()
    emb = {
        r.vec_id: np.array(r.emb)
        for r in sim._emb(spark, SF_ORACLE).collect()
    }

    def mean_pairwise(ids):
        vs = [emb[i] / np.linalg.norm(emb[i]) for i in ids]
        sims = [
            float(vs[i] @ vs[j])
            for i in range(len(vs))
            for j in range(i + 1, len(vs))
        ]
        return sum(sims) / len(sims)

    by_q_mmr, by_q_plain = {}, {}
    for r in got:
        by_q_mmr.setdefault(r.q_id, []).append((r.mmr_rank, r.vec_id))
    for r in plain:
        by_q_plain.setdefault(r.q_id, []).append((r.rn, r.vec_id))
    assert set(by_q_mmr) == set(by_q_plain)
    d_mmr, d_plain = [], []
    for q in by_q_mmr:
        mmr_ids = [v for _, v in sorted(by_q_mmr[q])]
        plain_ids = [v for _, v in sorted(by_q_plain[q])]
        assert len(mmr_ids) == len(set(mmr_ids)) == 5
        # rank-1 = relevance argmax (lambda*rel with empty penalty)
        assert mmr_ids[0] == plain_ids[0]
        d_mmr.append(mean_pairwise(mmr_ids))
        d_plain.append(mean_pairwise(plain_ids))
    assert sum(d_mmr) / len(d_mmr) < sum(d_plain) / len(d_plain)
