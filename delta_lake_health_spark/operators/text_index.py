"""Persisted BM25 lexical index — build once, serve many (VERDICT r10
task #4; pairs with the registry's in-session ``text_bm25_topk``, T33).

The registry query recomputes tf/df/doc-lengths from the corpus on
every call so the DuckDB oracle can replay it; production lexical
retrieval at 100 TB builds the index ONCE and serves queries from the
artifact. Layout (r11 review revision — ONE data table so an upsert is
ONE atomic commit; the earlier postings/doclen split left a crash
window between their two appends that double-counted tf on replay):

- ``postings`` — a single Delta table hive-partitioned by ``kind``:
  * ``kind=post`` rows (doc_id, w, tf): the term postings, written
    ``cluster_by("w", "doc_id")`` so a query touches only the files
    whose term range covers its terms;
  * ``kind=dl`` rows (doc_id, w=NULL, tf=doc length): the doc-length
    sidecar rows, physically separated by the partition (and sorted by
    doc_id — the null term sorts first in the range partitioning), so
    both the seen-set anti-join and the per-query doc-length lookup
    read ONLY this small partition, file-pruned by doc_id.
- ``stats`` — (n_docs, sum_dlen, as_of_version): a pure CACHE of the
  corpus totals, stamped with the data-table version it reflects.
  Probes validate ``as_of_version`` against the current data version
  and recompute from the ``kind=dl`` partition on mismatch, so a crash
  between the data commit and the cache re-stamp can never serve wrong
  idf/avgdl — only a slightly slower probe until the next upsert
  repairs the cache.

``bm25_search`` reproduces the registry scorer bit-for-bit (same Okapi
formula, same 6-dp round-before-rank, same tie-break), and
``upsert_bm25_index`` is the ``delta_tail``-compatible freshness path:
one append-only commit carrying the new docs' postings AND length rows
(|new docs| write cost), with an anti-join against the ``kind=dl``
partition making replayed batches exact no-ops. df/idf need no stored
state because they derive from the probed postings at query time.

Reference parity note: the reference repo has no lexical-retrieval
surface; this is LLM-pipeline scope (brief §"training-data pipeline"),
modeled on the persisted-IVF layout of ``operators/ann_index.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POST = "post"
_DL = "dl"


def _one_row_per_doc(docs: DataFrame) -> DataFrame:
    """One row per doc_id, deterministic under conflicting duplicates
    (max text per id)."""
    return docs.groupBy("doc_id").agg(F.max("text").alias("text"))


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, w, tf) over the FULL vocabulary — whitespace tokens,
    the same split the registry scorer and its oracle use."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _index_rows(docs: DataFrame) -> DataFrame:
    """The unified index rows for ``docs``: term postings under
    kind=post plus one doc-length row (w NULL, tf = dlen) under
    kind=dl — both halves of a document's state in ONE DataFrame so
    they land in ONE commit. Deduped by doc_id FIRST (r12 review,
    proven by repro): the upsert anti-join only screens docs already
    INDEXED, so a batch carrying the same doc twice (e.g. delta_tail
    coalescing two commits with the same id) would otherwise write
    duplicate dl rows and doubled tf — permanently wrong scores no
    replay guard can repair. The pick among conflicting texts is
    DETERMINISTIC (max text per id — dropDuplicates keeps an arbitrary
    partition-order row): which VERSION of a doc should win is the
    ingest door's decision (stream_dedup_ingest), not the index's; the
    index only guarantees build and upsert agree given the same
    rows."""
    docs = _one_row_per_doc(docs)
    posts = _doc_terms(docs).select(
        F.lit(_POST).alias("kind"), "doc_id", "w", "tf"
    )
    dl = docs.select(
        F.lit(_DL).alias("kind"),
        "doc_id",
        F.lit(None).cast("string").alias("w"),
        F.size(F.split("text", " ")).cast("long").alias("tf"),
    )
    return posts.unionByName(dl)


def _data_path(path: str) -> str:
    return os.path.join(path, "postings")


def build_bm25_index(spark, docs: DataFrame, path: str) -> dict:
    """Materialize the BM25 artifact from ``docs`` (doc_id, text).
    Postings cover the FULL vocabulary (the index must answer any
    query, not just a pinned term list); the zipfian term key is safe
    because postings are only ever FILTERED by term and aggregated per
    (w) at probe time — no |vocab| broadcast, matching the text-plan
    vocab bound. Clustering is DECLARED (liquid clustering) so upsert
    appends range-sort their own batches and a bare OPTIMIZE re-narrows
    the file ranges as the index grows."""
    from delta_lake_health_spark.sources import delta_writer

    data = _data_path(path)
    delta_writer.write(
        spark,
        _index_rows(docs),
        data,
        mode="overwrite",
        partition_by=["kind"],
        cluster_by=["w", "doc_id"],
    )
    delta_writer.set_cluster_columns(spark, data, ["w", "doc_id"])
    # upsert-heavy artifact: declare autoCompact (D57) so small upsert
    # files bin-pack themselves — the cluster-aware compact re-sorts by
    # the declared columns, keeping per-term file pruning sharp
    delta_writer.set_table_property(
        spark, data, "delta.autoOptimize.autoCompact", "true"
    )
    n_docs = _stamp_stats(spark, path)
    return {"path": path, "n_docs": int(n_docs)}


def _dl_rows(spark, log) -> DataFrame:
    """The kind=dl partition (doc_id, dlen) — partition-pruned scan."""
    return (
        log.snapshot()
        .where(F.col("kind") == _DL)
        .select("doc_id", F.col("tf").alias("dlen"))
    )


def _corpus_totals(spark, log):
    """(n_docs, sum_dlen) recomputed from the kind=dl partition."""
    row = _dl_rows(spark, log).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dlen").cast("long").alias("s"),
    ).first()
    return int(row.n or 0), int(row.s or 0)


def _stamp_stats(spark, path: str) -> int:
    """Overwrite the stats CACHE with totals recomputed from the data
    table, stamped with the data version they reflect. Returns
    n_docs."""
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    log = DeltaLog(spark, _data_path(path))
    n, s = _corpus_totals(spark, log)
    stats = spark.createDataFrame(
        [(n, s, int(log.version()))],
        "n_docs long, sum_dlen long, as_of_version long",
    )
    delta_writer.write(
        spark, stats, os.path.join(path, "stats"), mode="overwrite"
    )
    return n


# --------------------------------------------------------------------------
# Serve-state cache (VERDICT r11 #7): the probe path used to pay two
# DeltaLog replays plus two pruning JOBS per query for fixed metadata
# that only changes when the index version does. One log replay per
# index version now collects everything a probe needs — the w-intervals
# of kind=post files, the doc_id-intervals of kind=dl files, and the
# validated corpus totals — and every subsequent bm25_search against
# the unchanged index reuses it after a log-DIRECTORY freshness check
# (an os.listdir, no Spark job). This is the snapshot caching every
# production Delta reader does; at 100 TB the saved replay is the
# difference between a metadata-bound and a log-bound serve.

_SERVE_CACHE: dict[str, dict] = {}


def _log_token(data_path: str) -> tuple:
    """Cheap freshness token for a Delta table: (#entries, newest
    COMMIT name/size/mtime_ns) of _delta_log — any commit, or a
    rebuild at the same path, changes it. The newest commit is the max
    NUMERIC version file, not sorted()[-1]: '_last_checkpoint' sorts
    after every digit name, so once a checkpoint exists the lexicographic
    tail never moves and a cleanup_log + equal-count commit sequence
    would serve a stale snapshot (r12 review)."""
    # lists the log directory itself rather than calling log_replay: a
    # directory freshness token (entry count + newest commit's identity)
    # is not a replay, and must stay one os.listdir that parses nothing
    d = os.path.join(data_path, "_delta_log")
    try:
        names = os.listdir(d)
    except OSError:
        return ("missing",)
    commits = [
        n for n in names if n.endswith(".json") and n.split(".")[0].isdigit()
    ]
    if not commits:
        return ("empty", len(names))
    last = max(commits, key=lambda n: int(n.split(".")[0]))
    st = os.stat(os.path.join(d, last))
    return (len(names), last, st.st_size, int(st.st_mtime_ns))


def _serve_state(spark, path: str) -> dict:
    data = _data_path(path)
    token = _log_token(data)
    hit = _SERVE_CACHE.get(path)
    if hit is not None and hit["token"] == token:
        return hit
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    log = DeltaLog(spark, data)
    w_iv = log.live_file_intervals(
        "w", partition_filter={"kind": _POST}
    ).collect()
    dl_iv = log.live_file_intervals(
        "doc_id", partition_filter={"kind": _DL}
    ).collect()
    n, s = _validated_totals(spark, path, log)
    state = {
        "token": token,
        "w_intervals": [(r.path, r.lo, r.hi) for r in w_iv],
        "dl_intervals": [(r.path, r.lo, r.hi) for r in dl_iv],
        "totals": (n, s),
    }
    _SERVE_CACHE[path] = state
    return state


def bm25_pruned_paths(spark, log, terms) -> list:
    """Live kind=post files whose [min(w), max(w)] stats interval
    covers at least one query term — ``DeltaLog.pruned_files_for_keys``
    with the partition filter, exact because the probe's row filter is
    term equality. Metadata only, no data read."""
    keys = spark.createDataFrame([(str(t),) for t in terms], "w string")
    return log.pruned_files_for_keys(
        keys, "w", partition_filter={"kind": _POST}
    )


def _read_paths(spark, table_path: str, paths: list) -> DataFrame:
    """Read exactly ``paths`` from the index data table (append-only —
    the pruned file set IS the live data for those keys). Empty paths
    -> typed empty frame with the index columns."""
    if not paths:
        return spark.createDataFrame(
            [], "doc_id long, w string, tf long, kind string"
        )
    return spark.read.option("basePath", table_path).parquet(
        *[os.path.join(table_path, p) for p in paths]
    )


def bm25_search(
    spark,
    path: str,
    terms: tuple | list,
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
) -> DataFrame:
    """Serve a BM25 top-k from the persisted artifact. Bit-identical to
    the in-session registry scorer: Okapi BM25 with the
    ``ln(1 + (N - df + .5)/(df + .5))`` idf, 6-dp round BEFORE ranking,
    (score DESC, doc_id) tie-break. Scale shape: the postings scan is
    term-pruned through the cluster_by layout (containment evaluated
    DRIVER-SIDE against the cached intervals — |terms| x |files|, no
    job), doc lengths are read only for the matched docs (kind=dl
    partition, doc_id-pruned via a broadcast range join against the
    cached intervals), the corpus totals come from the serve-state
    cache (validated against the data version at cache time), and the
    final top-k is TakeOrdered + a rank window over the ``top``
    survivors only."""
    from pyspark.sql.window import Window

    terms = [str(t) for t in terms]
    if not terms:
        # no terms ⇒ no postings can match; short-circuit instead of
        # letting isin(*[]) / a zero-row key frame fail obscurely
        return spark.createDataFrame(
            [], "doc_id long, bm25 double, rank int"
        )
    state = _serve_state(spark, path)
    post_paths = sorted(
        p
        for p, lo, hi in state["w_intervals"]
        if lo is None or hi is None or any(lo <= t <= hi for t in terms)
    )
    if not post_paths:
        return spark.createDataFrame(
            [], "doc_id long, bm25 double, rank int"
        )
    # checkpoint: the postings feed BOTH the idf aggregate and the
    # scoring join (and the dl decision job when it runs) — without it
    # every pruned postings file is scanned once per consumer
    postings = (
        _read_paths(spark, _data_path(path), post_paths)
        .where(F.col("w").isin(*terms))
        .select("doc_id", "w", "tf")
        .localCheckpoint()
    )
    if len(state["dl_intervals"]) > 1:
        # doc_id pruning of the length sidecar can only pay when there
        # is more than one file to skip — the range-join decision job
        # costs more than reading a lone file
        dl_iv = spark.createDataFrame(
            state["dl_intervals"], "path string, lo long, hi long"
        )
        touched = (
            postings.select("doc_id")
            .distinct()
            .join(
                F.broadcast(dl_iv),
                F.col("lo").isNull()
                | F.col("hi").isNull()
                | (
                    (F.col("doc_id") >= F.col("lo"))
                    & (F.col("doc_id") <= F.col("hi"))
                ),
            )
            .select("path")
            .distinct()
            .collect()
        )
        dl_paths = sorted(r.path for r in touched)
    else:
        dl_paths = sorted(p for p, _, _ in state["dl_intervals"])
    dl = _read_paths(spark, _data_path(path), dl_paths).select(
        "doc_id", F.col("tf").alias("dlen")
    )
    n_docs, sum_dlen = state["totals"]
    stats = spark.createDataFrame(
        [(n_docs, sum_dlen)], "n_docs long, sum_dlen long"
    ).select(
        "n_docs",
        (F.col("sum_dlen") * 1.0 / F.col("n_docs")).alias("avgdl"),
    )
    idf = (
        postings.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "w",
            F.log(
                1
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    part = (
        F.col("idf")
        * F.col("tf")
        * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dlen") / F.col("avgdl"))
        )
    )
    scored = (
        postings.join(F.broadcast(idf), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(part), 6).alias("bm25"))
    )
    topdf = scored.orderBy(F.desc("bm25"), "doc_id").limit(top)
    w = Window.orderBy(F.desc("bm25"), "doc_id")
    return (
        topdf.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "bm25", "rank")
        .orderBy("rank")
    )


def _validated_totals(spark, path: str, log) -> tuple:
    """Corpus totals from the stats cache when it reflects the current
    data version, recomputed from the kind=dl partition when it does
    not (crash between data commit and cache re-stamp, or a concurrent
    upsert) — correctness never depends on the cache."""
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    current = int(log.version())
    try:
        row = (
            DeltaLog(spark, os.path.join(path, "stats"))
            .snapshot()
            .first()
        )
    except Exception:
        row = None
    if row is not None and int(row.as_of_version) == current:
        return int(row.n_docs), int(row.sum_dlen)
    return _corpus_totals(spark, log)


def upsert_bm25_index(spark, path: str, new_docs: DataFrame) -> dict:
    """Add ``new_docs`` (doc_id, text) to a persisted BM25 index
    without rebuilding: ONE pure-append commit carries both the new
    postings and the new doc-length rows (|new docs| write cost — the
    ``delta_tail`` streaming-maintenance shape; the declared clustering
    range-sorts the batch). Docs already indexed are skipped by doc_id
    (anti-join against the kind=dl partition — a crash-replayed batch
    is an exact no-op, and a crash before the stats re-stamp only
    leaves the cache stale, which probes detect and recompute around).
    Returns ``{"numDocsAdded"}``."""
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    data = _data_path(path)
    known = _dl_rows(spark, DeltaLog(spark, data)).select("doc_id")
    fresh = (
        _one_row_per_doc(new_docs.select("doc_id", "text"))
        .join(known, "doc_id", "left_anti")
        .localCheckpoint()
    )
    n_new = fresh.count()
    if n_new == 0:
        return {"numDocsAdded": 0}
    delta_writer.write(
        spark, _index_rows(fresh), data, mode="append"
    )
    _stamp_stats(spark, path)
    return {"numDocsAdded": int(n_new)}
