"""Audio fingerprinting + clip-to-track matching (SURVEY §2.7 M8).

Reference family: spectral-peak constellation hashing (Wang 2003, "An
Industrial-Strength Audio Search Algorithm" — the Shazam scheme), built
Spark-first:

- **Fingerprints** (``audio_fingerprints``): each PCM16 WAV payload is
  framed (``frame`` samples, ``hop`` step), each frame's rfft magnitude
  spectrum is reduced to one peak bin per log-band, and every anchor
  peak is paired with the peaks of the next ``fan_out`` frames into a
  packed ``(f1, f2, dt)`` hash. All of it runs numpy-vectorized inside
  one Arrow-batched ``mapInPandas`` pass — the per-track work is
  O(samples · log frame), and the emitted rows are
  |tracks| × frames × bands × fan_out — linear in audio duration,
  independent of corpus size.

- **Matching** (``match_fingerprints``): a clip matches a track when
  many of its hashes co-occur at a CONSISTENT time offset. The join is
  keyed on the fingerprint hash (uniformly distributed — sha-derived
  spectra have no hot keys), votes are counted per
  (clip, track, offset), and the winner per clip is one window. Never
  clip × corpus: a hash that appears in q clips and c tracks only
  produces q·c rows for THAT hash, and the offset histogram collapses
  them immediately.

Scale shape at 100 TB of audio: the fingerprint table is the persisted
artifact (a Delta table clustered by ``fp`` would let the probe prune
to the touched hash ranges); matching shuffles |clip fps| + |matching
corpus fps| rows, never payload bytes; the only driver-side values are
the frame parameters.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

FRAME = 128
HOP = 64
FAN_OUT = 3


def _band_edges(frame: int) -> tuple[int, ...]:
    """Octave-ish band edges over the rfft bins of a ``frame``-sample
    window (frame//2 + 1 bins, DC excluded): one peak per band per
    frame. Derived from the frame so every exposed frame size bands the
    FULL spectrum — a hardcoded edge list would silently ignore the top
    octaves of a larger frame or crash on a smaller one."""
    if frame < 32:
        raise ValueError(f"frame must be >= 32 samples, got {frame}")
    return (1, frame // 16, frame // 8, frame // 4, frame // 2 + 1)


# the default-frame edges, importable for tests/consumers
BAND_EDGES = _band_edges(FRAME)

FP_SCHEMA = "media_id long, t int, fp long"


def fingerprint_samples(
    mono,
    frame: int = FRAME,
    hop: int = HOP,
    fan_out: int = FAN_OUT,
) -> list[tuple[int, int]]:
    """Pure-numpy reference fingerprinter for ONE mono float array →
    [(t, fp)] — the exact algorithm the Spark pass applies per payload
    (shared so the parity test is definitionally aligned).

    fp packs (f1 << 20) | (f2 << 8) | dt: anchor-frame peak bin, target
    peak bin, and their frame distance."""
    import numpy as np

    n = (len(mono) - frame) // hop + 1 if len(mono) >= frame else 0
    if n <= 0:
        return []
    idx = np.arange(frame)[None, :] + hop * np.arange(n)[:, None]
    frames = mono[idx]
    mag = np.abs(np.fft.rfft(frames, axis=1))
    edges = _band_edges(frame)
    n_bands = len(edges) - 1
    peaks = np.empty((n, n_bands), dtype=np.int64)
    for b in range(n_bands):
        lo, hi = edges[b], edges[b + 1]
        peaks[:, b] = lo + np.argmax(mag[:, lo:hi], axis=1)
    # pair-packing stays vectorized too: for each dt, broadcast the
    # anchor frames' peaks against the dt-shifted frames' peaks —
    # (n-dt, bands, bands) hashes per dt, no Python-level inner loops
    ts_parts, fp_parts = [], []
    for dt in range(1, fan_out + 1):
        m = n - dt
        if m <= 0:
            break
        h = (
            (peaks[:m, :, None] << 20)
            | (peaks[dt:, None, :] << 8)
            | dt
        )
        ts_parts.append(np.repeat(np.arange(m), n_bands * n_bands))
        fp_parts.append(h.reshape(-1))
    if not ts_parts:
        return []
    t_all = np.concatenate(ts_parts)
    fp_all = np.concatenate(fp_parts)
    return list(zip(t_all.tolist(), fp_all.tolist()))


def audio_fingerprints(
    media: DataFrame,
    frame: int = FRAME,
    hop: int = HOP,
    fan_out: int = FAN_OUT,
) -> DataFrame:
    """(media_id, payload) WAV rows → (media_id, t, fp) constellation
    hashes. Non-RIFF rows are dropped (mixed-modality tables pass
    through one filter, not a crash)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from delta_lake_health_spark.operators.multimodal import (
            wav_samples,
        )

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload)
                if payload[:4] != b"RIFF":
                    continue
                mono = wav_samples(payload).astype(np.float64).mean(axis=1)
                for t, fp in fingerprint_samples(
                    mono, frame=frame, hop=hop, fan_out=fan_out
                ):
                    rows.append(
                        {"media_id": int(mid), "t": t, "fp": fp}
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "t", "fp"]
            )

    return media.select("media_id", "payload").mapInPandas(fn, FP_SCHEMA)


def match_fingerprints(
    clip_fp: DataFrame, corpus_fp: DataFrame, top: int = 1
) -> DataFrame:
    """Best corpus track per clip: join on the hash, vote per
    (clip, track, frame offset), keep the ``top`` highest-voted rows per
    clip (votes desc, then track/offset for determinism). Returns
    (q_media_id, match_media_id, dt, votes, rank). A clip too short to
    produce any fingerprint (< one analysis frame) has no join rows and
    is absent from the output — callers wanting explicit misses
    left-join this result back against their clip list."""
    q = clip_fp.select(
        F.col("media_id").alias("q_media_id"),
        F.col("t").alias("q_t"),
        "fp",
    )
    c = corpus_fp.select(
        F.col("media_id").alias("match_media_id"),
        F.col("t").alias("c_t"),
        "fp",
    )
    votes = (
        q.join(c, "fp")
        .groupBy(
            "q_media_id",
            "match_media_id",
            (F.col("c_t") - F.col("q_t")).alias("dt"),
        )
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("q_media_id").orderBy(
        F.desc("votes"), "match_media_id", "dt"
    )
    return (
        votes.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top)
        .select("q_media_id", "match_media_id", "dt", "votes", "rank")
    )


# --------------------------------------------------------------------------
# Persisted fingerprint index (VERDICT r10 #5) — the artifact the module
# docstring names: fingerprints as a Delta table clustered by ``fp`` so
# a probe touches only the hash ranges its clip actually hits, with
# append-only track upserts and a ``delta_tail``-driven streaming
# maintenance composition (streaming/jobs.stream_fp_index_maintenance).

_FP_PROPS = ("fp.frame", "fp.hop", "fp.fanOut")


def build_fp_index(
    spark,
    media: DataFrame,
    path: str,
    frame: int = FRAME,
    hop: int = HOP,
    fan_out: int = FAN_OUT,
) -> dict:
    """Fingerprint ``media`` (media_id, payload WAV rows) and persist
    the constellation table clustered by ``fp``. The frame parameters
    are stamped as table properties so every probe and upsert
    fingerprints its input with the SAME analysis the index was built
    with — mixed-parameter hashes never vote together. The index gets
    one file per partition of ``media``, so probe pruning needs a
    multi-partition ``media`` batch."""
    from delta_lake_health_spark.sources import delta_writer

    fps = audio_fingerprints(media, frame=frame, hop=hop, fan_out=fan_out)
    delta_writer.write(spark, fps, path, mode="overwrite", cluster_by=["fp"])
    # declare liquid clustering on fp: upsert appends auto-sort their
    # batch and a bare OPTIMIZE re-narrows the file ranges (probe
    # pruning stays sharp as tracks accumulate)
    delta_writer.set_cluster_columns(spark, path, ["fp"])
    # all three analysis parameters land in ONE commit: a crash can
    # leave the index un-stamped (probes refuse loudly, below) but
    # never HALF-stamped / silently mismatched
    delta_writer.set_table_properties(
        spark,
        path,
        {
            **dict(zip(_FP_PROPS, (str(frame), str(hop), str(fan_out)))),
            # upsert-heavy artifact: autoCompact (D57) bin-packs small
            # upsert files; the cluster-aware compact re-sorts by fp so
            # probe pruning stays sharp (same atomic commit as the
            # analysis params)
            "delta.autoOptimize.autoCompact": "true",
        },
    )
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    n_tracks = (
        DeltaLog(spark, path)
        .snapshot()
        .select(F.countDistinct("media_id").alias("n"))
        .first()
        .n
    )
    return {"path": path, "numTracks": int(n_tracks)}


def _fp_params(log) -> tuple[int, int, int]:
    """The analysis parameters the index was BUILT with. Missing
    properties are a refusal, not a default: falling back to module
    defaults against a non-default index would make probes vote
    mixed-parameter hashes and return wrong/empty matches silently
    (a crash between the data write and the property stamp leaves
    exactly this state — rebuild the index)."""
    cfg = log.metadata().get("configuration") or {}
    missing = [k for k in _FP_PROPS if k not in cfg]
    if missing:
        raise ValueError(
            f"fingerprint index at {log.table_path} is missing analysis "
            f"properties {missing} — it was not built (or not fully "
            "stamped) by build_fp_index; rebuild it"
        )
    return (int(cfg["fp.frame"]), int(cfg["fp.hop"]), int(cfg["fp.fanOut"]))


def upsert_fp_index(spark, path: str, new_media: DataFrame) -> dict:
    """Add new tracks to a persisted fingerprint index: one
    fingerprint pass over the new payloads, one PURE APPEND commit
    (|new tracks' hashes| write cost — the index is never rewritten;
    per-file fp ranges of the appended files are wider than the
    clustered build's until an OPTIMIZE recluster, which only narrows
    pruning, never correctness). Tracks already indexed are skipped by
    media_id (an anti-join against the index — |new| x metadata
    cost)."""
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    log = DeltaLog(spark, path)
    frame, hop, fan_out = _fp_params(log)
    known = log.snapshot().select("media_id").distinct()
    fresh = new_media.join(known, "media_id", "left_anti")
    fps = audio_fingerprints(
        fresh, frame=frame, hop=hop, fan_out=fan_out
    ).localCheckpoint()
    n = fps.count()
    if n == 0:
        return {"numHashesAdded": 0, "numTracksAdded": 0}
    n_tracks = fps.select(F.countDistinct("media_id").alias("n")).first().n
    delta_writer.write(spark, fps, path, mode="append", cluster_by=["fp"])
    return {"numHashesAdded": int(n), "numTracksAdded": int(n_tracks)}


def probe_pruned_paths(spark, log, clip_fp: DataFrame) -> list:
    """Live index files whose [min(fp), max(fp)] interval contains at
    least one clip hash — ``DeltaLog.pruned_files_for_keys``, the
    broadcast range-join data-skipping form: no hash set ever collects
    to the driver; only the touched PATHS do, bounded by |files|."""
    return log.pruned_files_for_keys(clip_fp.select("fp"), "fp")


def match_against_index(
    spark, path: str, clips: DataFrame, top: int = 1
) -> DataFrame:
    """Serve clip→track matching from the persisted index: fingerprint
    the clips with the index's own parameters, prune the index scan to
    the files whose fp range the clip hashes touch, then run the same
    offset-vote match as the in-session operator — bit-identical
    results, |touched files| read instead of the whole index."""
    import os

    from delta_lake_health_spark.sources.delta_log import DeltaLog

    log = DeltaLog(spark, path)
    frame, hop, fan_out = _fp_params(log)
    clip_fp = audio_fingerprints(
        clips, frame=frame, hop=hop, fan_out=fan_out
    ).localCheckpoint()
    paths = probe_pruned_paths(spark, log, clip_fp)
    if not paths:
        return spark.createDataFrame(
            [],
            "q_media_id long, match_media_id long, dt int, votes long,"
            " rank int",
        )
    corpus_fp = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, p) for p in paths]
    )
    return match_fingerprints(clip_fp, corpus_fp, top=top)
