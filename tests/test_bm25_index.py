"""Persisted BM25 index (operators/text_index.py, VERDICT r10 #4):
served scores must be bit-identical to the in-session registry scorer
(text_bm25_topk), incremental upserts must be append-only commits that
converge to the from-scratch build, and probes must file-prune through
the cluster_by("w") layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_health_spark.operators import text_index
from delta_lake_health_spark.plans.text import _BM25_QUERY, QUERIES
from delta_lake_health_spark.sources import delta_writer, log_replay
from delta_lake_health_spark.sources.delta_log import DeltaLog
from tests.conftest import SF_DIR


def _docs(spark):
    from delta_lake_health_spark.sources.catalog import load

    return load(spark, SF_DIR, "documents").select("doc_id", "text")


def _rows(df):
    return [(r.doc_id, r.bm25, r.rank) for r in df.collect()]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bm25") / "idx")
    m = text_index.build_bm25_index(spark, _docs(spark), path)
    assert m["n_docs"] == _docs(spark).count()
    return path


def test_served_scores_match_registry_scorer(spark, built):
    served = text_index.bm25_search(spark, built, _BM25_QUERY)
    in_session = QUERIES["text_bm25_topk"](spark, SF_DIR)
    assert _rows(served) == _rows(in_session)


def test_search_other_terms_and_empty(spark, built):
    got = text_index.bm25_search(spark, built, ("the",), top=5)
    rows = _rows(got)
    assert len(rows) == 5
    assert [r[2] for r in rows] == [1, 2, 3, 4, 5]
    none = text_index.bm25_search(
        spark, built, ("zz-not-a-token-zz",), top=5
    )
    assert none.count() == 0


def test_upsert_converges_to_full_build(spark, tmp_path):
    docs = _docs(spark).localCheckpoint()
    seed = docs.where(F.col("doc_id") % 5 != 0)
    late = docs.where(F.col("doc_id") % 5 == 0)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    text_index.build_bm25_index(spark, seed, inc)
    m = text_index.upsert_bm25_index(spark, inc, late)
    assert m["numDocsAdded"] == late.count()
    text_index.build_bm25_index(spark, docs, full)
    got = _rows(text_index.bm25_search(spark, inc, _BM25_QUERY))
    want = _rows(text_index.bm25_search(spark, full, _BM25_QUERY))
    assert got == want
    # and the incremental index serves the registry scorer's answer too
    assert got == _rows(QUERIES["text_bm25_topk"](spark, SF_DIR))


def test_upsert_is_one_append_only_commit(spark, tmp_path):
    """r11 review revision: an upsert's postings AND doc-length rows
    land in ONE append-only commit on the unified data table — no
    crash window between two tables can double-count on replay."""
    docs = _docs(spark).localCheckpoint()
    path = str(tmp_path / "idx")
    text_index.build_bm25_index(
        spark, docs.where(F.col("doc_id") < 400), path
    )
    post = os.path.join(path, "postings")
    v0 = delta_writer.current_version(post)
    text_index.upsert_bm25_index(
        spark, path, docs.where(F.col("doc_id") >= 400)
    )
    v1 = delta_writer.current_version(post)
    assert v1 == v0 + 1
    acts = log_replay.read_commit(post, v1)
    kinds = {k for a in acts for k in a}
    assert "add" in kinds and "remove" not in kinds, kinds
    # the one commit carries BOTH partitions' files
    parts = {
        a["add"]["partitionValues"]["kind"]
        for a in acts
        if "add" in a
    }
    assert parts == {"post", "dl"}


def test_stale_stats_cache_recomputes(spark, tmp_path):
    """A crash between the data commit and the stats re-stamp leaves
    the cache stale; probes must detect the version mismatch and
    recompute the totals from the kind=dl partition — served scores
    stay correct with no cache at all."""
    import shutil

    docs = _docs(spark).localCheckpoint()
    path = str(tmp_path / "idx")
    text_index.build_bm25_index(spark, docs, path)
    want = _rows(text_index.bm25_search(spark, path, _BM25_QUERY))
    # simulate the crash aftermath: the cache carries GARBAGE totals
    # stamped with a version the data table is not at — the probe must
    # ignore it and recompute from the kind=dl partition. The serve
    # cache is cleared between probes: with an UNCHANGED data log the
    # cached totals would (correctly) mask the stats table entirely,
    # and this test is about the cold validate-recompute path.
    delta_writer.write(
        spark,
        spark.createDataFrame(
            [(1, 1, 9999)],
            "n_docs long, sum_dlen long, as_of_version long",
        ),
        os.path.join(path, "stats"),
        mode="overwrite",
    )
    text_index._SERVE_CACHE.clear()
    assert _rows(
        text_index.bm25_search(spark, path, _BM25_QUERY)
    ) == want
    # and with NO stats table at all
    shutil.rmtree(os.path.join(path, "stats"))
    text_index._SERVE_CACHE.clear()
    assert _rows(
        text_index.bm25_search(spark, path, _BM25_QUERY)
    ) == want


def test_probe_prunes_postings_files(spark, tmp_path):
    """At fixture scale AQE coalesces the range shuffle to one file, so
    build this index with coalescing off to get the multi-file layout a
    real corpus produces, then prove the probe touches only the files
    whose term range covers the query."""
    path = str(tmp_path / "idx")
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce_key, "false")
    try:
        text_index.build_bm25_index(spark, _docs(spark), path)
    finally:
        spark.conf.set(coalesce_key, "true")
    log = DeltaLog(spark, os.path.join(path, "postings"))
    total = log.active_files().count()
    assert total > 4  # the layout under test: many term-ranged files
    probed = len(text_index.bm25_pruned_paths(spark, log, _BM25_QUERY))
    assert probed >= 1
    assert probed < total, (
        f"probe read {probed}/{total} files — cluster_by(w) stats "
        "should prune"
    )
    # pruned scan still serves the exact same answer
    got = _rows(text_index.bm25_search(spark, path, _BM25_QUERY))
    assert got == _rows(QUERIES["text_bm25_topk"](spark, SF_DIR))


def test_upsert_empty_batch_is_noop(spark, built):
    v = delta_writer.current_version(os.path.join(built, "postings"))
    m = text_index.upsert_bm25_index(
        spark, built, _docs(spark).where(F.lit(False))
    )
    assert m["numDocsAdded"] == 0
    assert delta_writer.current_version(
        os.path.join(built, "postings")
    ) == v


def test_upsert_replay_is_noop(spark, tmp_path):
    """Review fix (r11): a crash-replayed or overlapping upsert batch
    must not double-count — already-indexed doc_ids are skipped, so
    stats and scores are unchanged and no commit lands for an
    all-duplicate batch."""
    docs = _docs(spark).localCheckpoint()
    path = str(tmp_path / "idx")
    text_index.build_bm25_index(
        spark, docs.where(F.col("doc_id") < 400), path
    )
    late = docs.where(F.col("doc_id") >= 400)
    m1 = text_index.upsert_bm25_index(spark, path, late)
    assert m1["numDocsAdded"] == late.count()
    before = _rows(text_index.bm25_search(spark, path, _BM25_QUERY))
    v = delta_writer.current_version(os.path.join(path, "postings"))
    # full replay of the same batch: no rows added, no commit
    m2 = text_index.upsert_bm25_index(spark, path, late)
    assert m2["numDocsAdded"] == 0
    assert delta_writer.current_version(
        os.path.join(path, "postings")
    ) == v
    # overlapping batch: only the genuinely-new docs count
    m3 = text_index.upsert_bm25_index(spark, path, docs)
    assert m3["numDocsAdded"] == 0
    assert _rows(text_index.bm25_search(spark, path, _BM25_QUERY)) == (
        before
    )


def test_optimize_restores_pruning_after_upserts(spark, tmp_path):
    """The maintenance contract (r11): index tables DECLARE liquid
    clustering, so upsert appends range-sort their own batch, and a
    bare OPTIMIZE recluster (zorder_cluster over the declared column)
    re-narrows per-file term ranges — probe pruning stays sharp as the
    index grows, and served scores are bit-identical before and
    after."""
    from delta_lake_health_spark.operators.maintenance import (
        zorder_cluster,
    )
    from delta_lake_health_spark.sources.delta_writer import (
        clustering_columns,
    )

    docs = _docs(spark).localCheckpoint()
    path = str(tmp_path / "idx")
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce_key, "false")
    try:
        text_index.build_bm25_index(
            spark, docs.where(F.col("doc_id") < 250), path
        )
        # this test exercises the MANUAL recluster contract — switch
        # off the (r13) autoCompact declaration so the automatic
        # bin-pack doesn't compact the small files away first (that
        # path has its own test in test_minhash_index/test_audio_fp)
        from delta_lake_health_spark.sources import delta_writer

        delta_writer.set_table_property(
            spark,
            os.path.join(path, "postings"),
            "delta.autoOptimize.autoCompact",
            "false",
        )
        # five upsert batches: each appends its own term-sorted files,
        # multiplying the per-term file count
        for lo in range(250, 500, 50):
            text_index.upsert_bm25_index(
                spark,
                path,
                docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 50)
                ),
            )
    finally:
        spark.conf.set(coalesce_key, "true")
    post = os.path.join(path, "postings")
    assert clustering_columns(log_replay.Snapshot(post)) == ["w", "doc_id"]
    log = DeltaLog(spark, post)
    before_paths = len(
        text_index.bm25_pruned_paths(spark, log, _BM25_QUERY)
    )
    before_rows = _rows(text_index.bm25_search(spark, path, _BM25_QUERY))
    # declared columns drive the rewrite; lexicographic keeps the
    # LEADING column (w) maximally narrow, which is what term
    # probes prune on
    m = zorder_cluster(spark, post, interleaved=False)
    assert m["numRemovedFiles"] > 0 and m["numAddedFiles"] > 0
    log = DeltaLog(spark, post)
    after_paths = len(
        text_index.bm25_pruned_paths(spark, log, _BM25_QUERY)
    )
    assert after_paths < before_paths, (before_paths, after_paths)
    assert _rows(
        text_index.bm25_search(spark, path, _BM25_QUERY)
    ) == before_rows


def test_search_empty_terms_returns_typed_empty(spark, built):
    """ADVICE r11: an empty terms list short-circuits to an empty
    result with the SAME schema as a real search — not an obscure
    isin()/createDataFrame failure."""
    got = text_index.bm25_search(spark, built, ())
    assert got.count() == 0
    real = text_index.bm25_search(spark, built, ("the",), top=1)
    assert got.dtypes == real.dtypes


@pytest.mark.slow
def test_stream_bm25_index_maintenance_parity(spark, tmp_path):
    """VERDICT r11 #4: N micro-batches of new docs folded through the
    delta_tail maintenance stream must leave served scores bit-equal to
    a from-scratch build over the full corpus, and replaying the
    commits through a fresh checkpoint must be an exact no-op."""
    from delta_lake_health_spark.streaming.jobs import (
        stream_bm25_index_maintenance,
    )

    docs = _docs(spark).localCheckpoint()
    docs_tbl = str(tmp_path / "docs")
    idx = str(tmp_path / "idx")
    full = str(tmp_path / "full")
    seed = docs.where(F.col("doc_id") % 3 == 0)
    delta_writer.write(spark, seed, docs_tbl)
    text_index.build_bm25_index(spark, seed, idx)
    # two more commits of new docs arrive
    delta_writer.write(
        spark, docs.where(F.col("doc_id") % 3 == 1), docs_tbl, mode="append"
    )
    delta_writer.write(
        spark, docs.where(F.col("doc_id") % 3 == 2), docs_tbl, mode="append"
    )
    stream_bm25_index_maintenance(
        spark, docs_tbl, idx, str(tmp_path / "ckpt")
    )
    text_index.build_bm25_index(spark, docs, full)
    for terms in (_BM25_QUERY, ("the",)):
        assert _rows(text_index.bm25_search(spark, idx, terms)) == _rows(
            text_index.bm25_search(spark, full, terms)
        )
    # replaying ALL commits through a fresh checkpoint is a no-op
    v = delta_writer.current_version(os.path.join(idx, "postings"))
    stream_bm25_index_maintenance(
        spark, docs_tbl, idx, str(tmp_path / "ckpt2")
    )
    assert delta_writer.current_version(os.path.join(idx, "postings")) == v


def test_log_token_tracks_newest_commit_past_checkpoint(tmp_path):
    """r12 review: the serve-cache freshness token must key on the max
    NUMERIC commit version — '_last_checkpoint' sorts after every
    digit-named file, so a lexicographic tail pins once a checkpoint
    exists and a cleanup+equal-count-commit sequence would serve a
    stale snapshot."""
    import os as _os

    d = tmp_path / "t" / "_delta_log"
    d.mkdir(parents=True)
    for n in ("00000000000000000000.json", "00000000000000000001.json"):
        (d / n).write_text("{}")
    (d / "_last_checkpoint").write_text('{"version": 1}')
    t1 = text_index._log_token(str(tmp_path / "t"))
    # cleanup removes the pre-checkpoint commit, a new commit arrives:
    # same file COUNT, same lexicographic tail (_last_checkpoint)
    _os.remove(d / "00000000000000000000.json")
    (d / "00000000000000000002.json").write_text("{}")
    t2 = text_index._log_token(str(tmp_path / "t"))
    assert t1 != t2


def test_upsert_duplicate_ids_in_batch_write_once(spark, tmp_path):
    """r12 review (confirmed repro): a batch carrying the same doc
    twice must index it ONCE — duplicate dl rows / doubled tf would
    permanently corrupt scores with no replay guard able to repair."""
    docs = _docs(spark).limit(20).localCheckpoint()
    path = str(tmp_path / "idx")
    text_index.build_bm25_index(
        spark, docs.where("doc_id < 10"), path
    )
    late = docs.where("doc_id >= 10").localCheckpoint()
    m = text_index.upsert_bm25_index(
        spark, path, late.unionByName(late)
    )
    assert m["numDocsAdded"] == late.count()
    full = str(tmp_path / "full")
    text_index.build_bm25_index(spark, docs, full)
    for terms in (_BM25_QUERY, ("the",)):
        assert _rows(text_index.bm25_search(spark, path, terms)) == _rows(
            text_index.bm25_search(spark, full, terms)
        )
    # the dl partition holds exactly one row per doc
    from delta_lake_health_spark.sources.delta_log import DeltaLog as DL

    dl = text_index._dl_rows(
        spark, DL(spark, os.path.join(path, "postings"))
    )
    assert dl.count() == dl.select("doc_id").distinct().count() == 20


def test_conflicting_duplicate_texts_pick_deterministically(
    spark, tmp_path
):
    """r12 review: the same doc_id with DIFFERENT texts in one batch
    must index a deterministic version (max text) so build and upsert
    always agree — dropDuplicates kept an arbitrary partition-order
    row."""
    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    conflict = spark.createDataFrame(
        [(3, "old words here"), (3, "zz new words")],
        "doc_id long, text string",
    )
    inc = str(tmp_path / "inc")
    text_index.build_bm25_index(spark, base, inc)
    m = text_index.upsert_bm25_index(spark, inc, conflict)
    assert m["numDocsAdded"] == 1
    want = str(tmp_path / "want")
    text_index.build_bm25_index(
        spark,
        base.unionByName(
            spark.createDataFrame(
                [(3, "zz new words")], "doc_id long, text string"
            )
        ),
        want,
    )
    for terms in (("zz",), ("old",), ("alpha",)):
        assert _rows(text_index.bm25_search(spark, inc, terms)) == _rows(
            text_index.bm25_search(spark, want, terms)
        )
