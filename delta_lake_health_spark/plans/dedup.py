"""Deduplication operators over ``documents`` / ``embeddings`` (SURVEY §2.4).

Hash family: every signature derives from ``md5`` (identical in Spark and
DuckDB), so even the MinHash/SimHash pipelines are *exactly* reproducible
by the SQL oracle — min over fixed-width hex windows of md5 digests is a
valid min-hash permutation family.

Spark-first design: signatures are higher-order array expressions on the
JVM (no Python anywhere); candidate generation NEVER self-joins — bands
and shingles group into posting lists whose in-bucket pairs are expanded
with an index-lambda transform, so the expensive pipeline executes once
and the only shuffles move |docs| x bands tiny rows, uniformly keyed by
construction. Duplicate clusters are the connected components of the
candidate graph: union-find on the driver while the candidate pairs fit
``plans.DRIVER_STATE_ROWS``, iterative min-label propagation past it. All
of it holds at 100 TB: costs scale with corpus size and duplicate-cluster
size, never corpus^2.

See ``_signatures`` for the CollapseProject materialization-barrier note.
MinHash/LSH per Broder 1997 / Leskovec-Rajaraman-Ullman ch.3; SimHash per
Charikar 2002.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from delta_lake_health_spark.plans import collect_bounded, local_relation
from delta_lake_health_spark.sources.catalog import load

QUERIES: dict = {}
ORACLE: dict = {}

N_HASHES = 16
BAND_SIZE = 4  # 4 bands x 4 rows
N_BANDS = N_HASHES // BAND_SIZE
SIMHASH_BITS = 16
JACCARD_THRESHOLD = 0.2
# Near-dup threshold for the LSH-bucketed cosine pass. The synthetic
# embeddings have no pairs above ~0.6 cosine, so a "realistic" 0.95 would
# make the operator vacuously empty; 0.40 exercises the full pipeline
# (collide -> rerank -> filter) with a non-trivial result set.
COSINE_THRESHOLD = 0.40
# Deterministic per-bucket posting-list bound: a degenerate bucket (all-
# identical boilerplate corpus) would otherwise put an unbounded array on
# one reducer row. Keeping the lexicographically-first BUCKET_CAP ids is
# deterministic, so the DuckDB oracles stay bit-identical whenever buckets
# are under the cap (true for all driver SFs); beyond it the pair set is
# truncated the same way on every run.
BUCKET_CAP = 1024


def query(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


# Spark-side shingle/signature expressions (0-based array indexing in expr).
SHINGLES_EXPR = """
  CASE WHEN size(toks) >= 3 THEN
    transform(sequence(0, size(toks) - 3),
              p -> concat_ws(' ', toks[p], toks[p+1], toks[p+2]))
  ELSE array(concat_ws(' ', toks)) END
"""

# DuckDB side (1-based list indexing).
SQL_SHINGLES = """
  CASE WHEN len(toks) >= 3 THEN
    list_transform(range(len(toks) - 2),
                   p -> toks[p+1] || ' ' || toks[p+2] || ' ' || toks[p+3])
  ELSE [array_to_string(toks, ' ')] END
"""

# Hash family: each shingle gets FOUR md5 digests (seeds 0..3) concatenated
# to one 128-hex-char string; minhash permutation s reads hex chars
# [s*8+1, s*8+8] of it — 16 independent 32-bit uniform hashes for 4 md5
# evaluations per shingle (the naive one-md5-per-permutation family costs
# 4x the hashing for identical statistical behavior). Lexicographic min
# over fixed-width lowercase hex == numeric min, so it is a valid min-hash.
SQL_DIGESTS = """
  list_transform(shingles, sh ->
    md5('0:' || sh) || md5('1:' || sh) || md5('2:' || sh) || md5('3:' || sh))
"""

SQL_MINHASH = f"""
  list_transform(range({N_HASHES}),
                 s -> list_min(list_transform(digs,
                      d -> substr(d, s * 8 + 1, 8))))
"""


# --------------------------------------------------------------------------
# X1 — exact duplicate clusters (content-hash groupBy, keep min doc_id).
@query(
    "dedup_exact",
    """
    SELECT md5(text) AS content_fp,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    ORDER BY keep_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .orderBy("keep_doc_id")
    )


# --------------------------------------------------------------------------
# X2 — corpus-level duplication stats (never empty, any SF).
@query(
    "dedup_exact_stats",
    """
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique,
           COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dup_docs,
           ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 6)
             AS dup_ratio
    FROM documents
    """,
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dup_docs"),
        F.round(
            1.0 - F.countDistinct(F.md5("text")).cast("double") / F.count(F.lit(1)), 6
        ).alias("dup_ratio"),
    )


# Per-shingle digests kept as BINARY (4 x unhex(md5) = 64 bytes) rather
# than the 128-hex-char concat: the digest array crosses the _signatures
# materialization exchange, so its width is the pipeline's dominant
# shuffle cost (guide §2.3, shuffle fewer bytes) — binary halves it.
# Unsigned byte-wise comparison of the decoded digests is ORDER-IDENTICAL
# to lexicographic comparison of the lowercase-hex originals (hex digit
# order == nibble order), so every array_min picks the same element and
# `lower(hex(...))` restores the exact hex window MINHASH has always
# produced (and SQL_MINHASH still produces on the oracle side).
DIGESTS_EXPR = """
  transform(shingles, sh ->
    concat(unhex(md5(concat('0:', sh))), unhex(md5(concat('1:', sh))),
           unhex(md5(concat('2:', sh))), unhex(md5(concat('3:', sh)))))
"""

MINHASH_EXPR = f"""
  transform(sequence(0, {N_HASHES - 1}),
            s -> lower(hex(array_min(
                   transform(digs, d -> substring(d, s * 4 + 1, 4))))))
"""


def _posting_pairs(
    df: DataFrame, key_cols: list[str], id_col: str, out_a: str, out_b: str
) -> DataFrame:
    """In-bucket candidate pairs WITHOUT a self-join.

    A self-join re-executes the whole upstream pipeline for each side;
    grouping by bucket computes it once and shuffles only the tiny
    (key, id) rows. Posting lists are sorted then capped at BUCKET_CAP
    (keep the smallest ids — deterministic), so a degenerate bucket is
    bounded at cap^2/2 pairs instead of corpus^2.
    """
    buckets = (
        df.groupBy(*key_cols)
        .agg(
            F.slice(F.sort_array(F.collect_list(id_col)), 1, BUCKET_CAP).alias("ds")
        )
        .where(F.size("ds") > 1)
    )
    return buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), "
                f"y -> struct(x AS {out_a}, y AS {out_b}))))"
            )
        ).alias("p")
    ).select(f"p.{out_a}", f"p.{out_b}")


def _signatures(docs: DataFrame) -> DataFrame:
    """doc_id + 16-element minhash signature, one narrow pass per doc.

    Three deliberate choices, all benchmarked at sf0.1 (32 cores):
    - hash family (see SQL_DIGESTS): 4 md5 per shingle, sliced into 16
      independent 32-bit hex windows — vs 16 md5 per shingle for the
      one-digest-per-permutation family (4x the hashing, same behavior);
    - the repartition between digests and signature is a MATERIALIZATION
      BARRIER, not a distribution choice: CollapseProject inlines a
      projected column into every downstream reference, and the signature
      (and the band keys above it) reference their input 16 times each —
      without the barrier the md5 digests get recomputed 16x per row
      (interpreted lambdas get no codegen subexpression elimination).
      Everything referenced repeatedly ABOVE the barrier is cheap
      substring/min math; the one md5 pass happens exactly once below it.
      ~3x faster end-to-end at sf0.1 than no barrier. r13 (guide §2.3,
      shuffle fewer bytes): the digests now cross that exchange as
      BINARY (64 B/shingle vs the 128-hex-char strings — see
      DIGESTS_EXPR), halving the pipeline's dominant shuffle; measured
      1.67->1.47s on the signature pass at sf0.1 (min-of-3 noop-sink,
      interleaved), signatures bit-identical. A fold formulation that
      moved the signature below the barrier entirely (16x8-char rows on
      the exchange) was ALSO tried and rejected: interpreted
      aggregate/zip_with per-element allocation cost 2.5x the barrier
      it saved (3.18s vs 1.23s on the same pass);
    - nested higher-order fns over an explode+groupBy(min) reshape: min
      over md5 strings degenerates to SortAggregate plus a
      |shingles|-row shuffle — ~7x slower than the narrow pass.
    """
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("shingles", F.expr(SHINGLES_EXPR))
        .withColumn("digs", F.expr(DIGESTS_EXPR))
        .select("doc_id", "digs")
        .repartition("doc_id")
        .withColumn("sig", F.expr(MINHASH_EXPR))
        .select("doc_id", "sig")
    )


def _sql_bands_cte(src: str, prefix: str) -> str:
    """DuckDB CTE text computing ``{prefix}sigs``/``{prefix}bands``
    over ``src`` — ONE definition of the oracle-side band construction
    (r12 review: the pairs and probe oracles used to carry separate
    copies whose band-key concat could drift under a BAND_SIZE edit)."""
    key = " || ".join(
        f"sig[b.range*{BAND_SIZE}+{i + 1}]" for i in range(BAND_SIZE)
    )
    return f"""
    {prefix}sigs AS (
      SELECT doc_id, {SQL_MINHASH} AS sig
      FROM (
        SELECT doc_id, {SQL_DIGESTS} AS digs
        FROM (
          SELECT doc_id, {SQL_SHINGLES} AS shingles
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
                FROM {src})
        )
      )
    ), {prefix}bands AS (
      SELECT doc_id, b.range AS band_idx, md5({key}) AS band_key
      FROM {prefix}sigs, range({N_BANDS}) b
    )"""


# Shared CTE text: signatures -> bands -> distinct candidate pairs.
SQL_PAIRS_CTES = f"""
    {_sql_bands_cte('documents', '')}, cand_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM bands a JOIN bands c
        ON a.band_idx = c.band_idx AND a.band_key = c.band_key
       AND a.doc_id < c.doc_id
    )
"""


# --------------------------------------------------------------------------
# X3 — MinHash LSH candidate pairs: 4 bands x 4 rows, band-bucket join.
def band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) LSH band rows — the shared
    signature→bands stage of X3 and the persisted X17 index
    (operators/minhash_index.py), extracted so the two can never
    diverge on the hash family or band layout."""
    return bands_from_sigs(_signatures(docs))


def bands_from_sigs(sigs: DataFrame) -> DataFrame:
    """band_rows' banding stage over an existing (doc_id, sig) frame —
    split out (r13) so consumers that need BOTH the signatures and the
    bands (X14 calibration) can materialize the signature pass once
    instead of paying it per derivation."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat(
                        *[F.expr(f"sig[{b * BAND_SIZE + i}]") for i in range(BAND_SIZE)]
                    )
                ).alias("band_key"),
            )
            for b in range(N_BANDS)
        ]
    )
    # explode_outer: a plain explode makes Catalyst push a
    # `size(bands)>0 AND isnotnull(bands)` filter below the Generate, which
    # re-evaluates the whole (interpreted) signature expression a second
    # time per row — outer explode generates no such filter.
    return sigs.select(
        "doc_id", F.explode_outer(band_structs).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")


def candidate_pairs_unordered(bands: DataFrame) -> DataFrame:
    """X3's candidate-pair stage WITHOUT the presentation sort — the
    form graph consumers (clusters, pagerank) build edges from, where
    the global orderBy would be a wasted range-exchange + sort (guide
    §2.4: an orderBy used only to make output deterministic)."""
    pairs = _posting_pairs(
        bands, ["band_idx", "band_key"], "doc_id", "doc_a", "doc_b"
    )
    return pairs.distinct()


def candidate_pairs_from_bands(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs from band rows — X3's bucket-join stage,
    shared with the persisted index's serve path. Buckets are dup
    clusters, so the in-bucket pair expansion is bounded (k docs ->
    k^2/2 pairs — inherent to LSH output, capped by cluster size not
    corpus, and hard-bounded at BUCKET_CAP by _posting_pairs)."""
    return candidate_pairs_unordered(bands).orderBy("doc_a", "doc_b")


@query(
    "dedup_minhash_pairs",
    f"""
    WITH {SQL_PAIRS_CTES}
    SELECT doc_a, doc_b FROM cand_pairs
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return candidate_pairs_from_bands(band_rows(docs))


# --------------------------------------------------------------------------
# X17 — MinHash-LSH candidate pairs SERVED from the persisted index
# (operators/minhash_index.py, VERDICT r11 #3): same answer as X3, with
# the per-doc signature pass paid once at build/upsert time instead of
# per query. The oracle is X3's — served output must be bit-identical.
def minhash_index_path(sf_dir: str) -> str:
    """The per-sf_dir /tmp location of the served-LSH artifact — ONE
    definition, shared with bench.py's force-rebuild so the two can
    never drift."""
    import os

    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return f"/tmp/delta_lake_health_spark_fixture/minhash_index_{tag}"


def _minhash_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Build-once LSH artifact for this sf_dir; shared by the served
    and probe registry rows."""
    import os

    from delta_lake_health_spark.operators import minhash_index as mi
    from delta_lake_health_spark.sources.fixture import build_once

    path = minhash_index_path(sf_dir)
    marker = os.path.join(path, "_MINHASHIX_COMPLETE")

    def build() -> None:
        mi.build_minhash_index(
            spark,
            load(spark, sf_dir, "documents").select("doc_id", "text"),
            path,
        )

    # deps: the functions whose behavior defines the artifact — editing
    # the builder, the band layout, or the hash family must rebuild,
    # not serve stale; salt carries the VALUES of every module constant
    # the closures read (r12 review: the shingle/digest/minhash exprs
    # too — a 3-gram→5-gram edit changes no dep's source)
    build_once(
        marker,
        build,
        clean=[path],
        salt=(
            f"{sf_dir}|{N_HASHES}|{BAND_SIZE}|{N_BANDS}"
            f"|{SHINGLES_EXPR}|{DIGESTS_EXPR}|{MINHASH_EXPR}"
        ),
        deps=(mi.build_minhash_index, mi._index_rows, band_rows, _signatures),
    )
    return path


@query(
    "dedup_minhash_served",
    f"""
    WITH {SQL_PAIRS_CTES}
    SELECT doc_a, doc_b FROM cand_pairs
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.operators import minhash_index as mi

    return mi.serve_candidate_pairs(
        spark, _minhash_fixture(spark, sf_dir)
    )


# --------------------------------------------------------------------------
# X17b — corpus-door novelty probe against the persisted index: which
# indexed docs share an LSH band bucket with each incoming doc? The
# probe ids live in a disjoint range (+10M) so the oracle replays the
# whole composition: band the probe subset, band the corpus, join on
# the bucket key. The Spark side serves from the artifact with
# band_key file pruning; the answer must be bit-identical either way.
_PROBE_MOD = 97
_PROBE_SHIFT = 10_000_000


@query(
    "dedup_minhash_probe",
    f"""
    WITH {_sql_bands_cte('documents', 'c')},
    probe_docs AS (
      SELECT doc_id + {_PROBE_SHIFT} AS doc_id, text
      FROM documents WHERE doc_id % {_PROBE_MOD} = 0
    ),
    {_sql_bands_cte('probe_docs', 'p')}
    SELECT DISTINCT p.doc_id AS probe_doc_id, c.doc_id AS index_doc_id
    FROM pbands p JOIN cbands c
      ON p.band_idx = c.band_idx AND p.band_key = c.band_key
     AND p.doc_id != c.doc_id  -- mirror the operator's self-exclusion:
                               -- inert under the id shift at test SFs,
                               -- but keeps the contract bit-identical
                               -- once corpus ids reach the shift range
    ORDER BY probe_doc_id, index_doc_id
    """,
)
def dedup_minhash_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.operators import minhash_index as mi

    path = _minhash_fixture(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    probes = docs.where(F.col("doc_id") % _PROBE_MOD == 0).select(
        (F.col("doc_id") + _PROBE_SHIFT).alias("doc_id"), "text"
    )
    return mi.probe_minhash_index(spark, path, probes).orderBy(
        "probe_doc_id", "index_doc_id"
    )


# --------------------------------------------------------------------------
# X17c — the VERIFIED corpus-door decision (VERDICT r12 #2): the raw
# band-collision probe returns candidates; the door's actual call is
# thresholded. Every probe candidate pair is verified with the exact
# shingle-set Jaccard (X5's form), and each probe doc gets one row:
# its best-scoring index match + the is_dup decision. The oracle
# replays BOTH stages — the full band-join candidate composition of
# dedup_minhash_probe, then the Jaccard verify over those pairs.
# The probes are MUTATED copies so the stage is exercised non-trivially:
# most drop their last 3 tokens (near-dup, 0 < jaccard < 1); every
# second one is truncated to 4 tokens (novel -> NULL match, is_dup 0).
_PROBE_TEXT_EXPR = (
    "CASE WHEN doc_id % {mod2} = 0"
    " THEN concat_ws(' ', slice(toks, 1, 4))"
    " ELSE concat_ws(' ', slice(toks, 1, greatest(1, size(toks) - 3)))"
    " END"
)
_SQL_PROBE_TEXT = (
    "CASE WHEN doc_id % {mod2} = 0"
    " THEN array_to_string(toks[1:4], ' ')"
    " ELSE array_to_string(toks[1:greatest(1, len(toks) - 3)], ' ')"
    " END"
)


@query(
    "dedup_minhash_verified",
    f"""
    WITH {_sql_bands_cte('documents', 'c')},
    probe_docs AS (
      SELECT doc_id + {_PROBE_SHIFT} AS doc_id,
             {_SQL_PROBE_TEXT.format(mod2=2 * _PROBE_MOD)} AS text
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id % {_PROBE_MOD} = 0)
    ),
    {_sql_bands_cte('probe_docs', 'p')},
    cand AS (
      SELECT DISTINCT p.doc_id AS probe_doc_id, c.doc_id AS index_doc_id
      FROM pbands p JOIN cbands c
        ON p.band_idx = c.band_idx AND p.band_key = c.band_key
       AND p.doc_id != c.doc_id
    ),
    psh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id, unnest({SQL_SHINGLES}) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM probe_docs))
    ),
    ish AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id, unnest({SQL_SHINGLES}) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents))
    ),
    psz AS (SELECT doc_id, COUNT(*) AS n FROM psh GROUP BY doc_id),
    isz AS (SELECT doc_id, COUNT(*) AS n FROM ish GROUP BY doc_id),
    shared AS (
      SELECT cand.probe_doc_id, cand.index_doc_id, COUNT(*) AS n_shared
      FROM cand
      JOIN psh ON psh.doc_id = cand.probe_doc_id
      JOIN ish ON ish.doc_id = cand.index_doc_id
              AND ish.shingle = psh.shingle
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT probe_doc_id, index_doc_id,
             ROUND(CAST(n_shared AS DOUBLE) / (pz.n + iz.n - n_shared), 6)
               AS jaccard
      FROM shared
      JOIN psz pz ON pz.doc_id = probe_doc_id
      JOIN isz iz ON iz.doc_id = index_doc_id
    ),
    best AS (
      SELECT probe_doc_id, index_doc_id, jaccard,
             ROW_NUMBER() OVER (PARTITION BY probe_doc_id
                                ORDER BY jaccard DESC, index_doc_id) AS rn
      FROM verified
    )
    SELECT pd.doc_id AS probe_doc_id,
           b.index_doc_id AS best_match,
           b.jaccard AS jaccard,
           CAST(CASE WHEN COALESCE(b.jaccard >= {JACCARD_THRESHOLD}, FALSE)
                THEN 1 ELSE 0 END AS INT) AS is_dup
    FROM probe_docs pd
    LEFT JOIN best b ON b.probe_doc_id = pd.doc_id AND b.rn = 1
    ORDER BY probe_doc_id
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_health_spark.operators import minhash_index as mi

    path = _minhash_fixture(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    probes = (
        docs.where(F.col("doc_id") % _PROBE_MOD == 0)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            (F.col("doc_id") + _PROBE_SHIFT).alias("doc_id"),
            F.expr(
                _PROBE_TEXT_EXPR.format(mod2=2 * _PROBE_MOD)
            ).alias("text"),
        )
        # the verify path references the probe batch three times (band
        # rows, probe shingles, final left join) — each was a full
        # documents scan; one lazy checkpoint = one scan (r14, batch-
        # bounded rows so the materialization is |docs|/97, never the
        # corpus)
        .localCheckpoint(eager=False)
    )
    return mi.verified_probe(
        spark, path, probes, docs.select("doc_id", "text")
    ).orderBy("probe_doc_id")


# --------------------------------------------------------------------------
# X4 — SimHash (16-bit, md5-nibble derived) + collision-bucket sizes.
# Spark side hashes each token ONCE (toks_md5 precomputed), then derives
# the 16 bit-sums from the cached digests — the naive per-bit formulation
# recomputes md5 16x per token (3x slower at sf0.1, worse with longer docs).
_SPARK_SIMHASH = f"""
  array_join(transform(sequence(0, {SIMHASH_BITS - 1}), j ->
    CASE WHEN aggregate(toks_md5, 0, (acc, h) -> acc +
        2 * ((shiftright(instr('0123456789abcdef',
                               substr(h, CAST(j / 4 AS INT) + 1, 1)) - 1,
                         j % 4)) % 2) - 1) > 0
    THEN '1' ELSE '0' END), '')
"""

_SQL_SIMHASH = f"""
  array_to_string(list_transform(range({SIMHASH_BITS}), j ->
    CASE WHEN list_sum(list_transform(toks, w ->
        2 * (((strpos('0123456789abcdef',
                      substr(md5(w), CAST(floor(j / 4) AS INT) + 1, 1)) - 1)
              >> (j % 4)) % 2) - 1)) > 0
    THEN '1' ELSE '0' END), '')
"""


@query(
    "dedup_simhash",
    f"""
    WITH hashed AS (
      SELECT doc_id, {_SQL_SIMHASH} AS simhash
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    SELECT doc_id, simhash,
           COUNT(*) OVER (PARTITION BY simhash) AS bucket_size
    FROM hashed
    ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    hashed = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id", F.expr("transform(toks, w -> md5(w))").alias("toks_md5")
        )
        # materialization barrier (see _signatures): the 16 bit-sum
        # expressions each reference toks_md5; without it CollapseProject
        # re-inlines the md5 pass 16x per row
        .repartition("doc_id")
        .select("doc_id", F.expr(_SPARK_SIMHASH).alias("simhash"))
        # referenced twice below (size agg + join back) — materialize so
        # the md5+bit-sum pass runs once
        .localCheckpoint()
    )
    # bucket sizes via groupBy + broadcast-join back, NOT a window: a
    # COUNT(*) OVER (PARTITION BY simhash) would land an entire degenerate
    # bucket (boilerplate-heavy corpus -> one simhash value) on a single
    # partition; the grouped count is two narrow stages with map-side
    # partials and the tiny bucket table broadcasts
    sizes = hashed.groupBy("simhash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return (
        hashed.join(F.broadcast(sizes), "simhash")
        .select("doc_id", "simhash", "bucket_size")
        .orderBy("doc_id")
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """DISTINCT (doc_id, shingle) rows — the exact-Jaccard verify unit
    (X5's shingle-set form), shared with the X17c verified probe
    (``operators/minhash_index.verified_probe``) so the two can never
    diverge on the shingle definition."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("shingles", F.expr(SHINGLES_EXPR))
        .select("doc_id", F.explode_outer("shingles").alias("shingle"))
        .distinct()
    )


# --------------------------------------------------------------------------
# X5 — n-gram Jaccard verification join (blocked by source to bound pairs).
@query(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, source, shingle
      FROM (
        SELECT doc_id, source, unnest({SQL_SHINGLES}) AS shingle
        FROM (SELECT doc_id, source, string_split(text,' ') AS toks FROM documents)
      )
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6)
             AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared)
          >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", "source", F.split("text", " ").alias("toks"))
        .withColumn("shingles", F.expr(SHINGLES_EXPR))
        .select("doc_id", "source", F.explode_outer("shingles").alias("shingle"))
        .distinct()
        # THREE consumers (posting pairs + the sa/sb size sides): the
        # before-plan showed three full scan+explode+distinct subtrees
        # with no exchange reuse — one lazy checkpoint makes the
        # tokenize/distinct pass run once (r14, guide §2.4/§5)
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Shared-shingle counts WITHOUT a self-join (a self-join of the exploded
    # shingle set re-runs the shingling for both sides and SMJ-sorts 2x
    # |shingles| rows): group each (source, shingle) into its posting list
    # and expand in-bucket pairs — identical n_shared math, one shuffle.
    shared = (
        _posting_pairs(sh, ["source", "shingle"], "doc_id", "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_shared").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_shared")
    )
    return (
        shared.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# X6 — embedding-cosine near-duplicates via multi-probe random-hyperplane
# LSH. Candidate generation: each vector gets an 8-bit bucket from the
# fixed +-1 planes shared with ``plans/similarity`` (so the oracle computes
# the *same* buckets), then posts 9 probe keys — the exact bucket plus the
# 8 one-bit-masked variants ('01*01101'). Two vectors share a probe key
# iff their buckets differ in at most one bit, so candidates = Hamming<=1
# bucket collisions — no label blocking, no corpus^2 term anywhere: the
# shuffles move |vectors| x 9 tiny key rows, and the exact rerank touches
# only colliding pairs. This is the scale path a 100 TB corpus needs
# (blocking on a coarse metadata column is O(block^2)).
_SQL_COS_AB = (
    "list_dot_product(ea.emb, eb.emb) / "
    "(sqrt(list_dot_product(ea.emb, ea.emb)) * sqrt(list_dot_product(eb.emb, eb.emb)))"
)


@query(
    "dedup_embedding_cosine",
    None,  # oracle attached below (needs similarity's plane constants)
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # norms are per-VECTOR, so compute them before the pair join — the
    # naive per-pair norm triples the interpreted array-fold work
    # (O(pairs) instead of O(vectors)).
    from delta_lake_health_spark.functions.vector import as_double_array, dot, l2_norm
    from delta_lake_health_spark.plans.similarity import N_PLANES, _spark_bucket

    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", as_double_array("embedding").alias("emb"))
        .withColumn("nrm", l2_norm("emb"))
        .withColumn("bucket", _spark_bucket())
        # barrier + one-shot materialization: `bucket` is 8 interpreted
        # array folds and is referenced by all 9 probe keys (CollapseProject
        # would re-inline it 9x), and the pipeline below references this
        # frame three times (keys + both rerank sides) — localCheckpoint
        # computes the embeddings/norms/buckets exactly once.
        .repartition("vec_id")
        .localCheckpoint()
    )
    probes = [F.col("bucket")] + [
        F.concat(
            F.substring("bucket", 1, i),
            F.lit("*"),
            F.substring("bucket", i + 2, N_PLANES - i - 1),
        )
        for i in range(N_PLANES)
    ]
    keys = emb.select("vec_id", F.explode(F.array(*probes)).alias("bkey"))
    cand = _posting_pairs(keys, ["bkey"], "vec_id", "vec_a", "vec_b").distinct()
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"), F.col("nrm").alias("nb")
    )
    cos = dot("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .where(cos >= COSINE_THRESHOLD)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


def _cosine_oracle_sql() -> str:
    from delta_lake_health_spark.plans.similarity import N_PLANES, _SQL_BUCKET

    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    b AS (SELECT vec_id, {_SQL_BUCKET} AS bucket FROM e),
    keys AS (
      SELECT vec_id,
             CASE WHEN m.range = {N_PLANES} THEN bucket
                  ELSE substr(bucket, 1, m.range) || '*' || substr(bucket, m.range + 2)
             END AS bkey
      FROM b, range({N_PLANES} + 1) m
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
      FROM keys a JOIN keys c ON a.bkey = c.bkey AND a.vec_id < c.vec_id
    )
    SELECT vec_a, vec_b, ROUND({_SQL_COS_AB}, 6) AS cosine
    FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
    WHERE {_SQL_COS_AB} >= {COSINE_THRESHOLD}
    ORDER BY vec_a, vec_b
    """


ORACLE["dedup_embedding_cosine"] = _cosine_oracle_sql()


# --------------------------------------------------------------------------
# X7 — duplicate clusters: connected components over the LSH candidate
# graph; each doc gets the min doc_id of its component as cluster id (the
# canonical "keep" doc). The candidate pairs are localCheckpointed; while
# they fit DRIVER_STATE_ROWS the action that materializes them also
# collects them, and union-find labels them on the driver (driver state:
# the pairs and one label per paired doc; 276 pairs at sf0.1). Past the
# bound a warning names the query and the labels stay distributed:
# min-label propagation iterated to CONVERGENCE (exact for any component
# diameter), each round one join + one min-aggregate over the label
# table, lineage truncated by localCheckpoint so the convergence check
# costs one tiny job, not a plan replay. Oracle: recursive-CTE transitive
# closure (fine at oracle scale).
CLUSTER_MAX_ROUNDS = 50  # safety bound; dup clusters converge in a few


def propagate_min_labels(edges: DataFrame) -> DataFrame:
    """Connected components over an undirected edge list (``doc_a``,
    ``doc_b``, both directions present) via iterative min-label
    propagation. Returns (doc_id, cluster).

    Convergence check: labels only DECREASE under min-propagation, so
    for NUMERIC ids the label sum is strictly decreasing until the fixed
    point — one cheap aggregate over the just-materialized labels
    instead of a labels-vs-labels join per round (decimal sum: exact, no
    overflow at any corpus size). For non-numeric ids the decimal cast
    would yield an all-null sum (None == None would exit after one
    round, silently unconverged), so those fall back to an any-changed
    probe: an old-vs-new join that stops at the first changed row."""
    from pyspark.sql.types import NumericType

    # eager=False throughout this loop (r13): every round ends in an
    # ACTION anyway (the label-sum collect / changed-row count), so the
    # lazy checkpoint materializes inside that same job — the eager form
    # paid one extra no-op job per round just to persist, plus one here
    # for the init labels. Lineage truncation is identical either way.
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    numeric_ids = isinstance(labels.schema["cluster"].dataType, NumericType)

    def _label_sum(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cluster").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        if row.n and row.s is None:
            raise AssertionError(
                "label-sum convergence probe returned null on a numeric "
                "id column — cannot trust convergence"
            )
        return row.s

    prev_sum = _label_sum(labels) if numeric_ids else None
    for _ in range(CLUSTER_MAX_ROUNDS):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("cluster").alias("cluster"))
        )
        prev_labels = labels
        labels = (
            labels.unionByName(neighbor_min)
            .groupBy("doc_id")
            .agg(F.min("cluster").alias("cluster"))
            .localCheckpoint(eager=False)
        )
        if numeric_ids:
            new_sum = _label_sum(labels)
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
        else:
            changed = (
                labels.alias("n")
                .join(prev_labels.alias("o"), "doc_id")
                .where(F.col("n.cluster") != F.col("o.cluster"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
    return labels


def min_labels(doc_a: list, doc_b: list) -> dict:
    """{doc_id: min doc_id of its component} over the undirected edges
    ``zip(doc_a, doc_b)`` (non-null ids of one comparable type): the
    driver-side twin of ``propagate_min_labels``. Union-find that always
    links the larger root under the smaller, so every root is its
    component's min; path halving keeps the finds short."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(doc_a, doc_b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster) labels of the LSH candidate graph — X7 WITHOUT
    the presentation sizes-join/orderBy, for consumers that only need
    the labels (the corpus-build census and keep-corpus derive their
    removed set from it; r14, guide §2.4 — same split as r13's
    candidate_pairs_unordered). Union-find on the driver when the pairs
    fit ``DRIVER_STATE_ROWS``, else distributed min-label propagation."""
    # checkpoint the PAIRS, not the union: the union's two branches each
    # re-ran the candidate pipeline when the barrier sat above them
    # (r13, guide §2.4). Lazy: the bounded collect materializes it, and
    # the distributed fallback reuses it.
    pairs = (
        candidate_pairs_unordered(band_rows(load(spark, sf_dir, "documents")))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    state = collect_bounded(pairs, "dedup cluster_labels")
    if state is not None:
        labels = min_labels(
            state.column("doc_a").to_pylist(), state.column("doc_b").to_pylist()
        )
        id_type = pairs.schema["doc_a"].dataType
        return local_relation(
            spark,
            {"doc_id": list(labels), "cluster": list(labels.values())},
            StructType(
                [StructField("doc_id", id_type), StructField("cluster", id_type)]
            ),
        )
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )  # iterations reuse the checkpointed pairs
    return propagate_min_labels(edges)


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {SQL_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM cand_pairs
    ),
    reach(doc, r) AS (
      SELECT s, s FROM edges GROUP BY s
      UNION
      SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.doc
    ),
    labels AS (SELECT doc AS doc_id, MIN(r) AS cluster FROM reach GROUP BY doc)
    SELECT doc_id, cluster,
           COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
    FROM labels
    ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = cluster_labels(spark, sf_dir)
    # cluster sizes via groupBy + broadcast join, not a window: one giant
    # duplicate cluster would otherwise land whole on a single partition
    # (labels is already materialized, so no recompute)
    sizes = labels.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(F.broadcast(sizes), "cluster")
        .select("doc_id", "cluster", "cluster_size")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# X8 — substring-level duplication census (RefinedWeb / Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" — the shingle
# approximation of suffix-array substring dedup).  Every 8-token window is
# hashed; a window that appears in more than one document is "duplicated
# text".  Reported per source as the duplicated-shingle fraction — the
# signal a pipeline uses to decide whether substring-level dedup is worth a
# rewrite pass.  Scale shape: the explode is a narrow map (|docs| x ~tokens
# rows of 32-byte hashes, never the text itself), the count is one shuffle
# keyed by hash (uniform by construction), and the join back to the shingle
# table reuses the same key so AQE plans it shuffle-free on the agg side.
SHINGLE_W = 8


@query(
    "dedup_shingle_duplication",
    f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, source,
             md5(array_to_string(
               t[CAST(i AS INT):CAST(i + {SHINGLE_W - 1} AS INT)], ' ')) AS h
      FROM t, UNNEST(range(1, len(t) - {SHINGLE_W - 2})) u(i)
      WHERE len(t) >= {SHINGLE_W}
    ), cnt AS (
      SELECT h, COUNT(*) AS nd FROM sh GROUP BY h
    )
    SELECT source,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_shingles,
           ROUND(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_fraction
    FROM sh JOIN cnt USING (h)
    GROUP BY source
    ORDER BY source
    """,
)
def dedup_shingle_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    shingles = (
        docs.where(F.size(t) >= SHINGLE_W)
        # project the token array ONCE; referencing split(text) inside the
        # transform lambda would re-split the document per shingle
        .select("doc_id", "source", t.alias("toks"))
        .select(
            "doc_id",
            "source",
            # BINARY digest key (r14, guide §2.3 — the r13 minhash
            # treatment): 16 bytes instead of the 32-char hex string on
            # the distinct shuffle, the checkpoint, the count shuffle,
            # and the join back; unhex(md5) is bijective with the hex
            # string so every grouping/join is unchanged
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {SHINGLE_W - 1}),"
                    f" i -> unhex(md5(concat_ws(' ', slice(toks, i, {SHINGLE_W})))))"
                )
            ).alias("h"),
        )
        .distinct()
        # two consumers (the per-shingle count and the join back) — run
        # the explode+distinct once, not twice; LAZY (r14): the single
        # final action materializes it, no standalone job
        .localCheckpoint(eager=False)
    )
    counts = shingles.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    return (
        shingles.join(counts, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_dup_shingles"),
            F.round(
                F.sum(F.when(F.col("nd") > 1, 1.0).otherwise(0.0))
                / F.count(F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X9 — the dedup OUTPUT: per-source corpus census after near-dup cluster
# dedup (keep the component-min doc of every duplicate cluster, keep all
# singletons).  This is the number a pipeline actually reports — "dedup
# removed N docs from source S" — derived from the same candidate graph
# as X7, so the decision is consistent with `dedup_clusters`.  The
# removed set is |docs in clusters| - |clusters| rows (tiny relative to
# the corpus), so the final join broadcasts.
@query(
    "dedup_keep_corpus",
    f"""
    WITH RECURSIVE {SQL_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM cand_pairs
    ),
    reach(doc, r) AS (
      SELECT s, s FROM edges GROUP BY s
      UNION
      SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.doc
    ),
    labels AS (SELECT doc AS doc_id, MIN(r) AS cluster FROM reach GROUP BY doc),
    rem AS (SELECT doc_id FROM labels WHERE doc_id <> cluster)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN rem.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rem.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed
    FROM documents LEFT JOIN rem USING (doc_id)
    GROUP BY source
    ORDER BY source
    """,
)
def dedup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # labels only — X7's presentation sizes-join/orderBy is dead weight
    # for the removal-set derivation (r14, guide §2.4)
    removed = _removed_docs(spark, sf_dir)
    return (
        docs.join(F.broadcast(removed), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_rm").isNull(), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("_rm").isNotNull(), 1).otherwise(0)).alias(
                "n_removed"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# X10 — the END-TO-END corpus build: quality filter (T9 rules) → near-dup
# cluster dedup (keep component-min + singletons) → content-hash
# train/val/test split, reported per (lang, split).  This is the whole
# training-data pipeline as ONE declarative plan: Catalyst fuses the
# filter and split into the scan projection, the dedup candidate graph is
# the X3 posting-list pipeline (runs once), and the removed-doc set joins
# back as a broadcast — so the end-to-end cost is the dedup pipeline plus
# one narrow pass over the corpus.
from delta_lake_health_spark.plans.text import (  # noqa: E402
    STOPWORDS as _T_STOPS,
    _SQL_BUCKET256,
    _spark_bucket256,
    gopher_flags,
)

_SQL_STOPS = ", ".join(f"'{w}'" for w in _T_STOPS)

# ONE oracle-side definition of the Gopher quality rule (r13 review:
# the X10 census, the door census, and the door quarantine oracles had
# drifted into three hand-copies; a threshold tweak must change exactly
# one place). Mirrors plans/text.gopher_flags.
_SQL_GOPHER_BASE = f"""
      SELECT doc_id, lang, n_chars, text,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t IN ({_SQL_STOPS}))) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dist
      FROM documents
"""
_SQL_GOPHER_KEEP = (
    "n_tok >= 20 AND n_tok <= 100000"
    " AND (n - n_tok + 1) / n_tok >= 2"
    " AND (n - n_tok + 1) / n_tok <= 10"
    " AND n_stop >= 2"
    " AND n_dist / n_tok >= 0.2"
)


@query(
    "pipeline_corpus_build",
    f"""
    WITH RECURSIVE {SQL_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM cand_pairs
    ),
    reach(doc, r) AS (
      SELECT s, s FROM edges GROUP BY s
      UNION
      SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.doc
    ),
    labels AS (SELECT doc AS doc_id, MIN(r) AS cluster FROM reach GROUP BY doc),
    rem AS (SELECT doc_id FROM labels WHERE doc_id <> cluster),
    base AS ({_SQL_GOPHER_BASE}),
    kept AS (
      SELECT b.lang, b.n_chars,
             CASE WHEN {_SQL_BUCKET256} < 204 THEN 'train'
                  WHEN {_SQL_BUCKET256} < 230 THEN 'val'
                  ELSE 'test' END AS split
      FROM base b LEFT JOIN rem USING (doc_id)
      WHERE rem.doc_id IS NULL
        AND {_SQL_GOPHER_KEEP}
    )
    SELECT lang, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        curated_documents(spark, sf_dir, payload=False)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "split")
    )


def _removed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-dedup removal set (every doc that is not its
    component's min) — |docs in clusters| - |clusters| rows, tiny
    relative to the corpus, derived from ``cluster_labels`` so the
    decision is always consistent with ``dedup_clusters``."""
    labels = cluster_labels(spark, sf_dir)
    return (
        labels.where(F.col("doc_id") != F.col("cluster"))
        .select("doc_id")
        .withColumn("_rm", F.lit(1))
    )


def curated_documents(
    spark: SparkSession, sf_dir: str, *, payload: bool = True
) -> DataFrame:
    """The kept documents of the corpus pipeline — Gopher-pass,
    cluster-dedup keep, content-hash split. The ONE definition of
    "curated" shared by the oracle-checked ``pipeline_corpus_build``
    census and the Delta-landing job (``demos.curate_corpus_to_delta``),
    so threshold or split-fraction changes can never diverge silently
    between the two.

    ``payload=True`` (the landing job) carries the full payload columns
    lazily. ``payload=False`` (the census) projects only
    (doc_id, lang, n_chars, split) and OVERLAPS the Gopher pass with the
    independent dedup-cluster pipeline (r14, VERDICT r13 #1, guide
    §2.6): the narrow kept-set is eager-checkpointed from a driver
    thread while the cluster labels compute, so the census pays
    max(gopher, dedup) wall instead of their sum. The checkpoint is
    narrow BY the projection (no text), so the materialization is a few
    columns per kept doc, never the corpus payload (guide §5)."""
    docs = load(spark, sf_dir, "documents")
    flags = gopher_flags(docs, "doc_id", "lang", "source", "n_chars", "text")
    keep = (
        F.col("ok_word_count")
        & F.col("ok_mean_word_len")
        & F.col("ok_stopwords")
        & F.col("ok_distinct_ratio")
    )
    split = (
        F.when(_spark_bucket256() < 204, "train")
        .when(_spark_bucket256() < 230, "val")
        .otherwise("test")
    )
    cols = (
        ["doc_id", "text", "lang", "source", "n_chars"]
        if payload
        else ["doc_id", "lang", "n_chars"]
    )
    kept = flags.where(keep).select(*cols, split.alias("split"))
    if payload:
        removed = _removed_docs(spark, sf_dir)
    else:
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        fut = pool.submit(kept.localCheckpoint)  # runs during the dedup jobs
        try:
            removed = _removed_docs(spark, sf_dir)
            kept = fut.result()
        finally:
            pool.shutdown(wait=False, cancel_futures=True)
    return (
        kept.join(F.broadcast(removed), "doc_id", "left")
        .where(F.col("_rm").isNull())
        .select(*cols, "split")
    )


# --------------------------------------------------------------------------
# X18 — the composed STREAMING corpus door's census (VERDICT r12 #1):
# `streaming/jobs.stream_corpus_door` runs quality gate + exact dedup +
# near-dup novelty probe + index maintenance as ONE foreachBatch job;
# this row drives it over the sf_dir documents in three id-ordered
# micro-batches and censuses the accepted corpus table. The oracle
# replays the door's admission semantics in closed form: a doc is kept
# iff it passes the Gopher rules AND no SMALLER-id doc shares an LSH
# band bucket (the greedy order-of-arrival dedup; exact duplicates
# band-collide with their twin, so one rule covers both stages).
# tests/test_corpus_door.py separately proves this equals the batch
# X10 pipeline on the fixture corpus.
def corpus_door_path(sf_dir: str) -> str:
    """The per-sf_dir /tmp root of the streaming-door fixture — ONE
    definition, shared with bench.py's force-rebuild."""
    import os

    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return f"/tmp/delta_lake_health_spark_fixture/corpus_door_{tag}"


def _door_fixture(spark: SparkSession, sf_dir: str) -> str:
    import os

    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.fixture import build_once
    from delta_lake_health_spark.streaming.jobs import stream_corpus_door

    root = corpus_door_path(sf_dir)
    marker = os.path.join(root, "_DOOR_COMPLETE")

    def build() -> None:
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        hi = docs.agg(F.max("doc_id")).collect()[0][0]
        b1, b2 = hi // 3, 2 * hi // 3
        src = os.path.join(root, "source")
        slices = [
            docs.where(F.col("doc_id") <= b1),
            docs.where((F.col("doc_id") > b1) & (F.col("doc_id") <= b2)),
            docs.where(F.col("doc_id") > b2),
        ]
        # one source commit then one door run per slice: availableNow
        # drains everything pending, so alternating write/run yields
        # three true micro-batches in id order
        for i, part in enumerate(slices):
            delta_writer.write(
                spark, part, src, mode="overwrite" if i == 0 else "append"
            )
            stream_corpus_door(
                spark,
                src,
                corpus_path=os.path.join(root, "corpus"),
                quarantine_path=os.path.join(root, "quarantine"),
                index_path=os.path.join(root, "lsh"),
                checkpoint_dir=os.path.join(root, "ckpt"),
            )

    from delta_lake_health_spark.operators import minhash_index as mi
    from delta_lake_health_spark.plans.text import (
        _spark_bucket256_of,
        gopher_flags,
    )

    build_once(
        marker,
        build,
        clean=[root],
        # salt carries the VALUES of every behavior-defining constant
        # the door reads (r13 review: the split hash + thresholds and
        # the stopword set shape the corpus, not just the band exprs)
        salt=(
            f"{sf_dir}|{N_HASHES}|{BAND_SIZE}|{N_BANDS}|{BUCKET_CAP}"
            f"|{SHINGLES_EXPR}|{DIGESTS_EXPR}|{MINHASH_EXPR}|204|230"
            f"|{_SQL_STOPS}"
        ),
        deps=(
            stream_corpus_door,
            mi.upsert_minhash_index,
            mi.probe_minhash_index,
            mi._index_rows,
            band_rows,
            _signatures,
            _posting_pairs,
            gopher_flags,
            _spark_bucket256_of,
        ),
    )
    return root


@query(
    "pipeline_stream_door_census",
    f"""
    WITH {SQL_PAIRS_CTES},
    rm AS (SELECT DISTINCT doc_b AS doc_id FROM cand_pairs),
    base AS ({_SQL_GOPHER_BASE}),
    kept AS (
      SELECT b.lang, b.n_chars,
             CASE WHEN {_SQL_BUCKET256} < 204 THEN 'train'
                  WHEN {_SQL_BUCKET256} < 230 THEN 'val'
                  ELSE 'test' END AS split
      FROM base b LEFT JOIN rm USING (doc_id)
      WHERE rm.doc_id IS NULL
        AND {_SQL_GOPHER_KEEP}
    )
    SELECT lang, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def pipeline_stream_door_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from delta_lake_health_spark.sources.delta_log import DeltaLog

    root = _door_fixture(spark, sf_dir)
    corpus = DeltaLog(spark, os.path.join(root, "corpus")).snapshot()
    return (
        corpus.groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang", "split")
    )


# --------------------------------------------------------------------------
# X18b — the door's QUARANTINE side, oracle-checked per doc: every
# rejected doc's (reason, match_doc_id) routing replayed in closed
# form. reason mirrors the door's stage order — exact_dup (a same-text
# twin earlier in the SAME batch, or an ACCEPTED same-text doc in an
# earlier batch), then quality (Gopher fail), then near_dup (a
# smaller-id band collision; match = the smallest collider — dropped
# exact-dups never band in the door, but their smaller identical twin
# does, so the MIN is unaffected). Batch boundaries are the fixture's
# doc_id terciles, derivable from MAX(doc_id) in SQL. Only the group
# MIN of a same-text group can ever be accepted, which closes the
# recursion the cross-batch exact rule needs. (cand_pairs carries
# X3's BUCKET_CAP — inert below 1024-doc buckets, true at all
# driver SFs.)
@query(
    "pipeline_door_quarantine",
    f"""
    WITH {SQL_PAIRS_CTES},
    hi AS (SELECT MAX(doc_id) AS hi FROM documents),
    b AS (
      SELECT doc_id, md5(text) AS fp,
             -- the fixture's boundaries are hi//3 and (2*hi)//3 (Python
             -- `2 * hi // 3` binds as floor(2*hi / 3), NOT 2*(hi//3) —
             -- they differ whenever hi % 3 == 2; r13 review)
             CASE WHEN doc_id <= hi // 3 THEN 0
                  WHEN doc_id <= (2 * hi) // 3 THEN 1
                  ELSE 2 END AS batch
      FROM documents CROSS JOIN hi
    ),
    q AS (
      SELECT doc_id, ({_SQL_GOPHER_KEEP}) AS ok
      FROM ({_SQL_GOPHER_BASE})
    ),
    rm AS (SELECT DISTINCT doc_b AS doc_id FROM cand_pairs),
    near_match AS (
      SELECT doc_b AS doc_id, MIN(doc_a) AS near_m
      FROM cand_pairs GROUP BY doc_b
    ),
    grp AS (SELECT fp, MIN(doc_id) AS m FROM b GROUP BY fp),
    macc AS (
      SELECT g.fp, g.m, mb.batch AS m_batch,
             (q.ok AND rm.doc_id IS NULL) AS m_accepted
      FROM grp g
      JOIN b mb ON mb.doc_id = g.m
      JOIN q ON q.doc_id = g.m
      LEFT JOIN rm ON rm.doc_id = g.m
    ),
    sb AS (
      SELECT fp, batch, MIN(doc_id) AS fp_batch_min
      FROM b GROUP BY fp, batch
    ),
    cls AS (
      SELECT b.doc_id,
             (b.doc_id > sb.fp_batch_min) AS in_batch_exact,
             (macc.m_accepted AND macc.m_batch < b.batch)
               AS corpus_exact,
             q.ok, macc.m, sb.fp_batch_min,
             (rm.doc_id IS NOT NULL) AS in_rm,
             nm.near_m
      FROM b
      JOIN q USING (doc_id)
      JOIN macc ON macc.fp = b.fp
      JOIN sb ON sb.fp = b.fp AND sb.batch = b.batch
      LEFT JOIN rm ON rm.doc_id = b.doc_id
      LEFT JOIN near_match nm ON nm.doc_id = b.doc_id
    )
    SELECT doc_id,
           CASE WHEN in_batch_exact OR corpus_exact THEN 'exact_dup'
                WHEN NOT ok THEN 'quality'
                ELSE 'near_dup' END AS reason,
           CASE WHEN corpus_exact THEN m
                WHEN in_batch_exact THEN fp_batch_min
                WHEN NOT ok THEN NULL
                ELSE near_m END AS match_doc_id
    FROM cls
    WHERE in_batch_exact OR corpus_exact OR NOT ok OR in_rm
    ORDER BY doc_id
    """,
)
def pipeline_door_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from delta_lake_health_spark.sources.delta_log import DeltaLog

    root = _door_fixture(spark, sf_dir)
    quar = DeltaLog(spark, os.path.join(root, "quarantine")).snapshot()
    return quar.select("doc_id", "reason", "match_doc_id").orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# X11 — incremental dedup against a historical corpus via a Bloom-filter
# prefilter (operators/bloom.py): the realistic shape of "dedup today's
# batch against the 100 TB corpus you already ingested". The corpus's
# 8-token shingle hashes are folded into a fixed-size Bloom filter — one
# corpus pass, per-partition filters OR-merged (order-invariant), final
# bitmap broadcast — and the batch's shingles probe it locally with ZERO
# false negatives, so the only thing the exact verification join ever
# shuffles is the (tiny) candidate set. The corpus never shuffles; the
# driver-side collect is bounded by the filter's word count (2^17), not
# the corpus. The Bloom pruning cannot change the answer (false
# positives are removed by the exact join), which is what keeps this
# oracle-checkable in plain SQL.
_BLOOM_W = 8  # shingle width (tokens), matches the contamination audit
# floor for the fan-in of the partial OR-merge level (see
# _bloom_merge_parts): bounds the driver's merge memory (x 1 MiB)
_BLOOM_MERGE_PARTS = 16


def _bloom_merge_parts(spark) -> int:
    """Reducer count for the partial OR-merge level of the Bloom build
    (r14, VERDICT r13 #7 + ADVICE r13: the promised conf now exists).
    The build emits ONE 1 MiB bitmap per partition of the shuffled
    shingle frame, so the merge's input width tracks
    ``spark.sql.shuffle.partitions`` — a fixed 16-way fan-in meant each
    reducer streamed P/16 bitmaps (~60 GB at a 1e6-partition corpus).
    Default ``max(16, shuffle_partitions // 4096)`` bounds every
    reducer's stream at ~4 GiB of bitmaps and keeps the driver's final
    OR at parts x 1 MiB (244 MiB at 1e6 partitions). Override with
    ``spark.delta_lake_health.bloom.mergeParts``. Locally (32 shuffle
    partitions) the default stays 16 — bench numbers stay comparable."""
    override = spark.conf.get("spark.delta_lake_health.bloom.mergeParts", None)
    if override:
        return max(1, int(override))
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(_BLOOM_MERGE_PARTS, sp // 4096)


@query(
    "dedup_incremental_bloom",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(
               t[CAST(i AS INT):CAST(i + {_BLOOM_W - 1} AS INT)], ' ')) AS h
      FROM t, UNNEST(range(1, len(t) - {_BLOOM_W - 2})) u(i)
      WHERE len(t) >= {_BLOOM_W}
    ), corpus AS (SELECT DISTINCT h FROM sh WHERE doc_id % 4 < 3),
    batch AS (SELECT doc_id, h FROM sh WHERE doc_id % 4 = 3)
    SELECT b.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_seen,
           ROUND(CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS seen_rate
    FROM batch b LEFT JOIN corpus c USING (h)
    GROUP BY b.doc_id
    HAVING SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) > 0
    ORDER BY b.doc_id
    """,
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from delta_lake_health_spark.operators import bloom

    docs = load(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    shingles = (
        docs.where(F.size(t) >= _BLOOM_W)
        .select("doc_id", t.alias("toks"))
        .select(
            "doc_id",
            # BINARY digest key (r14, guide §2.3): 16 bytes instead of
            # the 32-char hex string through the distinct shuffle, the
            # checkpoint, and the verify join — and the Python-side FNV
            # fold (bloom.hash_strings) runs half the byte positions.
            # The Bloom filter is prefilter-only (exact verify removes
            # false positives), so the changed bit pattern cannot change
            # any result
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_BLOOM_W - 1}),"
                    f" i -> unhex(md5(concat_ws(' ', slice(toks, i, {_BLOOM_W})))))"
                )
            ).alias("h"),
        )
        .distinct()
        # consumed by the filter build AND the exact verify — one pass,
        # materialized lazily by the build's collect (r13)
        .localCheckpoint(eager=False)
    )
    corpus = shingles.where(F.col("doc_id") % 4 < 3).select("h")
    batch = shingles.where(F.col("doc_id") % 4 == 3)

    # 1) build: per-partition Bloom filters OR-merged as whole binary
    #    bitmaps in a two-level tree (r13): one 1 MiB filter row per map
    #    partition, a repartition fans those into _bloom_merge_parts
    #    partial ORs (scale-adaptive + conf, r14), and the driver ORs
    #    that bounded set — the same
    #    order-invariant merge as before, but moving P binary rows
    #    instead of ~P x |nonzero words| (word, bits) rows through a
    #    131k-key aggregate. The corpus shingle stream had saturated the
    #    bitmap (~131k of 131k words nonzero per partition), so the old
    #    row-per-word emit shuffled ~P x 131k rows; measured
    #    1.13 -> 0.5s on the build+merge at sf0.1. Driver memory stays
    #    bounded by _bloom_merge_parts x 1 MiB, independent of corpus
    #    and cluster size (the reason it is a tree, not a collect of P).
    def build(batches):
        filt = bloom.new_filter()
        for pdf in batches:
            bloom.add(filt, bloom.hash_strings(list(pdf["h"])))
        yield pd.DataFrame({"f": [filt.tobytes()]})

    def or_merge(batches):
        acc = bloom.new_filter()
        for pdf in batches:
            for b in pdf["f"]:
                acc |= np.frombuffer(b, dtype=np.uint64)
        yield pd.DataFrame({"f": [acc.tobytes()]})

    partials = (
        corpus.mapInPandas(build, "f binary")
        .repartition(_bloom_merge_parts(spark))
        .mapInPandas(or_merge, "f binary")
        .collect()
    )
    filt = bloom.new_filter()
    for r in partials:
        filt |= np.frombuffer(r.f, dtype=np.uint64)
    filt_b = spark.sparkContext.broadcast(filt.tobytes())

    # 2) probe: local vectorized membership — no shuffle, no corpus.
    def probe(batches):
        f = np.frombuffer(filt_b.value, dtype=np.uint64)
        for pdf in batches:
            hit = bloom.contains(f, bloom.hash_strings(list(pdf["h"])))
            out = pdf.assign(candidate=hit)
            yield out

    probed = batch.mapInPandas(probe, "doc_id long, h binary, candidate boolean")
    candidates = probed.where("candidate").select("doc_id", "h")

    # 3) exact verify: only candidate shingles (bloom-pruned) join the
    #    corpus — a real LEFT SEMI join keyed on the uniform md5 hash
    #    (r13: the previous distinct + left-join + null-filter spelling
    #    paid an extra |corpus| aggregate for identical row multiset;
    #    semi join emits each candidate at most once by construction).
    seen = candidates.join(corpus, "h", "left_semi").select("doc_id", "h")

    totals = batch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = seen.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_seen"))
    return (
        totals.join(hits, "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_seen",
            F.round(
                F.col("n_seen").cast("double") / F.col("n_shingles"), 6
            ).alias("seen_rate"),
        )
        .where(F.col("n_seen") > 0)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# X12 — pairwise source-overlap matrix: shingle-set Jaccard between every
# pair of corpus sources — the provenance-level contamination view
# ("which feeds are republishing each other") that complements the
# doc-level (X8) and split-level (T11) censuses. Scale shape: documents
# reduce to distinct (source, shingle-hash) rows in one pass; pair
# generation groups by shingle hash into posting lists bounded by
# |sources| (never a shingle x shingle or doc x doc term), so the pair
# stream is at most |sources|²/2 per shingle; per-source set sizes are a
# tiny broadcast. All shuffles key on the uniform md5 hash.
@query(
    "dedup_source_overlap",
    f"""
    WITH t AS (
      SELECT source, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT DISTINCT source,
             md5(array_to_string(
               t[CAST(i AS INT):CAST(i + {_BLOOM_W - 1} AS INT)], ' ')) AS h
      FROM t, UNNEST(range(1, len(t) - {_BLOOM_W - 2})) u(i)
      WHERE len(t) >= {_BLOOM_W}
    ), sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           ROUND(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared), 6)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    sh = (
        docs.where(F.size(t) >= _BLOOM_W)
        .select("source", t.alias("toks"))
        .select(
            "source",
            # BINARY digest key (r14, guide §2.3) — see
            # dedup_shingle_duplication
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_BLOOM_W - 1}),"
                    f" i -> unhex(md5(concat_ws(' ', slice(toks, i, {_BLOOM_W})))))"
                )
            ).alias("h"),
        )
        .distinct()
        # feeds sizes AND pair generation; lazy (r14) — see X8
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    pairs = _posting_pairs(sh, ["h"], "source", "source_a", "source_b")
    inter = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# X13 — PageRank over the near-dup candidate graph (5 unrolled power
# iterations, damping 0.85): ranks the "template hubs" — documents whose
# boilerplate connects many near-duplicates — which is how a cleaning
# pipeline picks which exemplar to keep or which template to strip. An
# ITERATIVE algorithm kept oracle-checkable the same way the k-means
# quantizer is: a fixed iteration count unrolled into chained CTEs, every
# rank rounded to 6 dp per round so distributed-sum ulp noise can't
# diverge the engines. Scale shape: the edge list is the (bounded)
# LSH candidate set, never corpus²; per-edge weight 1/deg is
# precomputed once; each round is ONE shuffle keyed by node id
# (uniform doc ids) plus a localCheckpoint lineage barrier.
_PR_ITERS = 5
_PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    rounds = []
    for i in range(1, _PR_ITERS + 1):
        rounds.append(f"""
    r{i} AS (
      SELECT n.doc_id,
             ROUND(
               {1 - _PR_DAMP} + {_PR_DAMP} * COALESCE(SUM(r{i-1}.r / deg.deg), 0),
               6) AS r
      FROM nodes n
      LEFT JOIN edges e ON e.d = n.doc_id
      LEFT JOIN r{i-1} ON r{i-1}.doc_id = e.s
      LEFT JOIN deg ON deg.s = e.s
      GROUP BY n.doc_id
    )""")
    return f"""
    WITH {SQL_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM cand_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM cand_pairs
    ),
    deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
    nodes AS (SELECT s AS doc_id FROM deg),
    r0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) AS r FROM nodes),
    {",".join(rounds)}
    SELECT doc_id, r AS pagerank
    FROM r{_PR_ITERS}
    ORDER BY pagerank DESC, doc_id
    LIMIT 50
    """


@query("dedup_graph_pagerank", _pagerank_oracle())
def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE materialization of the candidate pipeline, unordered (r13,
    # guide §2.4): every reference to un-checkpointed pairs re-ran the
    # whole signature+band pipeline (the union's two branches, then the
    # wedges join and the nodes checkpoint — 4 runs total), and the
    # registry query's presentation orderBy added a range exchange no
    # graph consumer needs. Checkpoint the pairs ONCE; everything else
    # derives from that tiny edge list. A/B at sf0.1: 4.10 -> 1.76s.
    pairs = (
        candidate_pairs_unordered(band_rows(load(spark, sf_dir, "documents")))
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # per-edge degree attached ONCE — iterations only re-join ranks; the
    # contribution is computed as r / deg (NOT r * (1/deg)) so the ulp
    # rounding matches the DuckDB oracle's division exactly — a
    # reciprocal-multiply can flip the 6-dp per-round rounding
    # wedges/nodes/per-round ranks are checkpointed LAZILY (r13): they
    # all derive from the one eagerly-materialized pairs table, so the
    # final collect executes the whole 5-round chain as one job instead
    # of paying an extra materialization job per checkpoint (7 jobs -> 1).
    wedges = edges.join(deg, "s").select(
        "s", "d", F.col("deg").cast("double").alias("deg")
    ).localCheckpoint(eager=False)
    nodes = deg.select(F.col("s").alias("doc_id")).localCheckpoint(eager=False)
    ranks = nodes.select("doc_id", F.lit(1.0).alias("r"))
    for _ in range(_PR_ITERS):
        contribs = (
            wedges.join(ranks, wedges["s"] == ranks["doc_id"])
            .select("d", (F.col("r") / F.col("deg")).alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, nodes["doc_id"] == contribs["d"], "left")
            .select(
                "doc_id",
                F.round(
                    F.lit(1 - _PR_DAMP)
                    + F.lit(_PR_DAMP) * F.coalesce(F.col("in_sum"), F.lit(0.0)),
                    6,
                ).alias("r"),
            )
            # lineage truncation per round, lazy (see wedges note)
            .localCheckpoint(eager=False)
        )
    return (
        ranks.select("doc_id", F.col("r").alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "doc_id")
        .limit(50)
    )


# --------------------------------------------------------------------------
# X14 — MinHash estimator calibration census: for every LSH candidate
# pair, the signature-agreement estimate (n_agree/16 — the number
# MinHash dedup thresholds on) against the TRUE shingle Jaccard, rolled
# up per agreement level with the mean absolute error. This is the
# query a dedup owner runs before picking X3's band/threshold settings:
# it says what "14 of 16 rows agree" actually means on this corpus.
# Composes X3's candidate machinery with X5's shingle-Jaccard math.
# Scale shape: the pair set is LSH-bucket-bounded (never all-pairs),
# signature joins shuffle on uniform doc ids, the true-Jaccard side
# reuses the capped posting-list expansion, and the final aggregate is
# 17 rows (one per possible agreement count). Estimates are exact
# integer ratios; the per-bucket means are rounded to 6 dp.
@query(
    "dedup_minhash_calibration",
    f"""
    WITH {SQL_PAIRS_CTES},
    sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id, unnest({SQL_SHINGLES}) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      )
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), est AS (
      SELECT p.doc_a, p.doc_b,
             list_sum(list_transform(range(1, {N_HASHES + 1}), i ->
               CASE WHEN sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]
                    THEN 1 ELSE 0 END)) AS n_agree
      FROM cand_pairs p
      JOIN sigs sa ON sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.doc_id = p.doc_b
    ), tj AS (
      SELECT e.n_agree,
             COALESCE(CAST(s.n_shared AS DOUBLE)
                      / (za.n_sh + zb.n_sh - s.n_shared), 0.0) AS j
      FROM est e
      LEFT JOIN shared s ON s.doc_a = e.doc_a AND s.doc_b = e.doc_b
      JOIN sizes za ON za.doc_id = e.doc_a
      JOIN sizes zb ON zb.doc_id = e.doc_b
    )
    SELECT CAST(n_agree AS BIGINT) AS n_agree, COUNT(*) AS n_pairs,
           ROUND(AVG(j), 6) AS mean_true_jaccard,
           ROUND(AVG(ABS(n_agree / {N_HASHES}.0 - j)), 6) AS mean_abs_err
    FROM tj GROUP BY n_agree ORDER BY n_agree
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # ONE signature pass (r13): the pair generation, the sig_a side and
    # the sig_b side all read the same materialized (doc_id, sig) rows —
    # previously each derivation re-ran the shingle+md5 pipeline. The
    # presentation orderBy of the registry pairs query is dropped too
    # (guide §2.4); the estimate join doesn't care about pair order.
    sigs = _signatures(docs).localCheckpoint()
    pairs = candidate_pairs_unordered(bands_from_sigs(sigs)).select(
        "doc_a", "doc_b"
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),"
                " 0, (a, v) -> a + v)"
            ).cast("long").alias("n_agree"),
        )
    )
    sh = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .withColumn("shingles", F.expr(SHINGLES_EXPR))
        .select("doc_id", F.explode_outer("shingles").alias("shingle"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        _posting_pairs(sh, ["shingle"], "doc_id", "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    tj = (
        est.join(shared, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "n_agree",
            F.coalesce(
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")),
                F.lit(0.0),
            ).alias("j"),
        )
    )
    return (
        tj.groupBy("n_agree")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("j"), 6).alias("mean_true_jaccard"),
            F.round(
                F.avg(F.abs(F.col("n_agree") / F.lit(float(N_HASHES)) - F.col("j"))), 6
            ).alias("mean_abs_err"),
        )
        .orderBy("n_agree")
    )


# --------------------------------------------------------------------------
# X15 — asymmetric containment dedup (r8): C(A in B) = |A ∩ B| / |A| over
# the 3-gram shingle sets. Jaccard (X5) misses SUBSET duplicates — a short
# doc fully quoted inside a long one scores J = |A|/|B| (tiny) but
# C(A in B) = 1.0; containment is the signal quote/partial-copy scrubbing
# keys on (and the asymmetric twin of MinHash's symmetric estimate).
# Same scale shape as X5: posting lists on (source, shingle), in-bucket
# pair expansion — never a shingle self-join, no corpus^2 term — then
# one |pairs| aggregate joined to the two size rows. Emits both
# directions per unordered pair; kept when EITHER direction crosses the
# threshold, so the short-inside-long case X5 drops is exactly what
# survives here.
CONTAINMENT_THRESHOLD = 0.05


@query(
    "dedup_containment",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, source, shingle
      FROM (
        SELECT doc_id, source, unnest({SQL_SHINGLES}) AS shingle
        FROM (SELECT doc_id, source, string_split(text,' ') AS toks
              FROM documents)
      )
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.source = b.source
           AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE) / sa.n_sh, 6) AS contain_a,
           ROUND(CAST(n_shared AS DOUBLE) / sb.n_sh, 6) AS contain_b
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE GREATEST(CAST(n_shared AS DOUBLE) / sa.n_sh,
                   CAST(n_shared AS DOUBLE) / sb.n_sh)
          >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", "source", F.split("text", " ").alias("toks"))
        .withColumn("shingles", F.expr(SHINGLES_EXPR))
        .select(
            "doc_id", "source", F.explode_outer("shingles").alias("shingle")
        )
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        _posting_pairs(sh, ["source", "shingle"], "doc_id", "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    c_a = F.col("n_shared").cast("double") / F.col("sa.n_sh")
    c_b = F.col("n_shared").cast("double") / F.col("sb.n_sh")
    return (
        shared.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .where(F.greatest(c_a, c_b) >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(c_a, 6).alias("contain_a"),
            F.round(c_b, 6).alias("contain_b"),
        )
        .orderBy("doc_a", "doc_b")
    )
