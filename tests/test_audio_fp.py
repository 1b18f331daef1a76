"""Audio fingerprinting — operators/audio_fp.py + media_audio_fingerprint
(M8, constellation hashing per Wang 2003).

Contract: (1) the Spark fingerprint pass is definitionally identical to
the pure-numpy reference; (2) every hop-aligned clip recovers its source
track AND its frame offset as the top-1 vote; (3) a clip from a track
never ties with a foreign track (vote margin is decisive on sha-noise
audio); (4) hash shape bounds — fp packs (f1, f2, dt) reversibly and the
per-track row count is frames x bands x fan_out bounded.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from delta_lake_health_spark.operators import audio_fp
from delta_lake_health_spark.operators.multimodal import (
    encode_wav,
    encode_wav_from_samples,
    wav_samples,
)
from delta_lake_health_spark.plans.media import (
    _CLIP_ID_BASE,
    _clip_offset_frames,
    QUERIES,
)


def _wav_df(spark, ids, n_samples=900, rate=8000):
    rows = [(i, bytearray(encode_wav(i, n_samples, rate))) for i in ids]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_spark_pass_matches_numpy_reference(spark):
    payload = encode_wav(42, 1000, 8000)
    mono = wav_samples(payload).astype(np.float64).mean(axis=1)
    ref = sorted(audio_fp.fingerprint_samples(mono))
    df = audio_fp.audio_fingerprints(_wav_df(spark, [42], 1000))
    got = sorted((r.t, r.fp) for r in df.collect())
    assert got == ref and len(ref) > 0


def test_fp_packing_reversible_and_bounded(spark):
    df = audio_fp.audio_fingerprints(_wav_df(spark, [1, 2, 3]))
    rows = df.collect()
    n_frames = (900 - audio_fp.FRAME) // audio_fp.HOP + 1
    per_band = len(audio_fp.BAND_EDGES) - 1
    # per-track bound: frames x bands^2 x fan_out pair budget
    per_track = {}
    for r in rows:
        per_track[r.media_id] = per_track.get(r.media_id, 0) + 1
        f1, f2, dt = r.fp >> 20, (r.fp >> 8) & 0xFFF, r.fp & 0xFF
        assert 1 <= dt <= audio_fp.FAN_OUT
        assert 1 <= f1 < audio_fp.FRAME // 2 + 1
        assert 1 <= f2 < audio_fp.FRAME // 2 + 1
        assert 0 <= r.t < n_frames
    cap = n_frames * per_band * per_band * audio_fp.FAN_OUT
    assert all(n <= cap for n in per_track.values())


def test_clip_recovers_source_and_offset(spark):
    corpus = _wav_df(spark, [10, 11, 12, 13], 960)
    off_frames = 3
    rows = []
    for r in corpus.collect():
        s = wav_samples(bytes(r.payload))
        clip = s[off_frames * audio_fp.HOP :]
        rows.append(
            (r.media_id + 100, bytearray(encode_wav_from_samples(clip, 8000)))
        )
    clips = spark.createDataFrame(rows, "media_id long, payload binary")
    got = audio_fp.match_fingerprints(
        audio_fp.audio_fingerprints(clips),
        audio_fp.audio_fingerprints(corpus),
        top=1,
    ).collect()
    assert len(got) == 4
    for r in got:
        assert r.match_media_id == r.q_media_id - 100
        assert r.dt == off_frames


def test_vote_margin_decisive(spark):
    """The true source must out-vote every foreign track, not win a
    coin-flip: top-1 votes >= 3x the runner-up's."""
    corpus = _wav_df(spark, list(range(20, 28)), 960)
    src = corpus.where("media_id = 23").collect()[0]
    clip_samples = wav_samples(bytes(src.payload))[2 * audio_fp.HOP :]
    clips = spark.createDataFrame(
        [(999, bytearray(encode_wav_from_samples(clip_samples, 8000)))],
        "media_id long, payload binary",
    )
    top2 = audio_fp.match_fingerprints(
        audio_fp.audio_fingerprints(clips),
        audio_fp.audio_fingerprints(corpus),
        top=2,
    ).collect()
    assert top2[0].match_media_id == 23
    if len(top2) > 1:
        assert top2[0].votes >= 3 * top2[1].votes


def test_registry_query_matches_all_fixture_clips(spark):
    got = QUERIES["media_audio_fingerprint"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(got) == 8  # the fixture's 8 WAV tracks
    for r in got:
        assert r.match_media_id == r.q_media_id - _CLIP_ID_BASE
        assert r.dt == _clip_offset_frames(r.match_media_id)


def test_non_wav_rows_dropped(spark):
    from delta_lake_health_spark.operators.multimodal import encode_bmp

    mixed = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(1, 900, 8000))),
            (2, bytearray(encode_bmp(2, 16, 12))),
        ],
        "media_id long, payload binary",
    )
    got = audio_fp.audio_fingerprints(mixed)
    assert got.select("media_id").distinct().collect() == [
        __import__("pyspark").sql.Row(media_id=1)
    ]


# --------------------------------------------------------------------------
# Persisted fingerprint index (VERDICT r10 #5): probes served from the
# cluster_by("fp") Delta artifact must equal the in-session match,
# probes must file-prune through the log's fp-range stats, track
# upserts must be pure append commits that converge to a fresh build,
# and the delta_tail maintenance stream must keep the index current.


def _match_rows(df):
    return sorted(
        (r.q_media_id, r.match_media_id, r.dt, r.votes, r.rank)
        for r in df.collect()
    )


def _clips_from(spark, corpus, ids, skip_frames=2):
    rows = []
    for r in corpus.where(F.col("media_id").isin(ids)).collect():
        samples = wav_samples(bytes(r.payload))[
            skip_frames * audio_fp.HOP :
        ]
        rows.append(
            (
                r.media_id + 100,
                bytearray(encode_wav_from_samples(samples, 8000)),
            )
        )
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_persisted_probe_matches_in_session(spark, tmp_path):
    corpus = _wav_df(spark, list(range(1, 9))).localCheckpoint()
    path = str(tmp_path / "fpidx")
    m = audio_fp.build_fp_index(spark, corpus, path)
    assert m["numTracks"] == 8
    clips = _clips_from(spark, corpus, [2, 5, 7]).localCheckpoint()
    served = audio_fp.match_against_index(spark, path, clips)
    in_session = audio_fp.match_fingerprints(
        audio_fp.audio_fingerprints(clips),
        audio_fp.audio_fingerprints(corpus),
    )
    got = _match_rows(served)
    assert got == _match_rows(in_session)
    assert len(got) == 3
    for q, match, dt, _, _ in got:
        assert match == q - 100 and dt == 2


def test_persisted_probe_prunes_files(spark, tmp_path):
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    # the clustered write emits one file per partition of its batch, and
    # createDataFrame gives one partition per core: partition by track so
    # the index has 8 files on any core count
    corpus = (
        _wav_df(spark, list(range(1, 9)))
        .repartition(8, "media_id")
        .localCheckpoint()
    )
    path = str(tmp_path / "fpidx")
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce_key, "false")
    try:
        audio_fp.build_fp_index(spark, corpus, path)
    finally:
        spark.conf.set(coalesce_key, "true")
    log = DeltaLog(spark, path)
    total = log.active_files().count()
    assert total > 4
    # a SHORT clip touches few hash ranges — the pruning case
    src = corpus.where("media_id = 3").collect()[0]
    samples = wav_samples(bytes(src.payload))[: 4 * audio_fp.HOP]
    clip = spark.createDataFrame(
        [(103, bytearray(encode_wav_from_samples(samples, 8000)))],
        "media_id long, payload binary",
    )
    clip_fp = audio_fp.audio_fingerprints(clip).localCheckpoint()
    probed = audio_fp.probe_pruned_paths(spark, log, clip_fp)
    assert 1 <= len(probed) < total, (len(probed), total)
    got = audio_fp.match_against_index(spark, path, clip)
    assert _match_rows(got)[0][:2] == (103, 3)


def test_upsert_append_only_and_converges(spark, tmp_path):
    from delta_lake_health_spark.sources import delta_writer, log_replay

    corpus = _wav_df(spark, list(range(1, 9))).localCheckpoint()
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    audio_fp.build_fp_index(
        spark, corpus.where("media_id <= 5"), inc
    )
    v0 = delta_writer.current_version(inc)
    m = audio_fp.upsert_fp_index(
        spark, inc, corpus.where("media_id > 5")
    )
    assert m["numTracksAdded"] == 3 and m["numHashesAdded"] > 0
    v1 = delta_writer.current_version(inc)
    # the upsert itself is ONE pure append at v0+1; since r13 the build
    # stamps autoCompact, so a dataChange=false OPTIMIZE may follow it
    acts = log_replay.read_commit(inc, v0 + 1)
    kinds = {k for a in acts for k in a}
    assert "add" in kinds and "remove" not in kinds
    for v in range(v0 + 2, v1 + 1):
        extra = log_replay.read_commit(inc, v)
        ops = [
            a["commitInfo"]["operation"]
            for a in extra
            if "commitInfo" in a
        ]
        assert ops == ["OPTIMIZE"], ops
        assert all(
            a["add"].get("dataChange") is False
            for a in extra
            if "add" in a
        )
    audio_fp.build_fp_index(spark, corpus, full)
    clips = _clips_from(spark, corpus, [1, 6, 8]).localCheckpoint()
    assert _match_rows(
        audio_fp.match_against_index(spark, inc, clips)
    ) == _match_rows(audio_fp.match_against_index(spark, full, clips))
    # replaying the same tracks is a no-op (crash-replay safety)
    m2 = audio_fp.upsert_fp_index(
        spark, inc, corpus.where("media_id > 5")
    )
    assert m2 == {"numHashesAdded": 0, "numTracksAdded": 0}
    assert delta_writer.current_version(inc) == v1
    assert v1 in (v0 + 1, v0 + 2)  # append (+ optional auto-compaction)


@pytest.mark.slow
def test_stream_fp_index_maintenance_parity(spark, tmp_path):
    from delta_lake_health_spark.sources import delta_writer
    from delta_lake_health_spark.streaming.jobs import (
        stream_fp_index_maintenance,
    )

    corpus = _wav_df(spark, list(range(1, 9))).localCheckpoint()
    media_tbl = str(tmp_path / "media")
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    delta_writer.write(spark, corpus.where("media_id <= 5"), media_tbl)
    audio_fp.build_fp_index(
        spark, corpus.where("media_id <= 5"), idx
    )
    # two more commits of new tracks arrive
    delta_writer.write(
        spark, corpus.where("media_id IN (6, 7)"), media_tbl,
        mode="append",
    )
    delta_writer.write(
        spark, corpus.where("media_id = 8"), media_tbl, mode="append"
    )
    stream_fp_index_maintenance(spark, media_tbl, idx, ckpt)
    clips = _clips_from(spark, corpus, [6, 8]).localCheckpoint()
    got = _match_rows(audio_fp.match_against_index(spark, idx, clips))
    assert [(q, m) for q, m, *_ in got] == [(106, 6), (108, 8)]


def test_params_stamped_in_one_commit(spark, tmp_path):
    """ADVICE r11: the three analysis parameters must land in ONE
    property commit — a reader can never observe a half-stamped
    configuration. Build = data write (v0) + clustering (v1) + ONE
    properties commit (v2)."""
    from delta_lake_health_spark.sources import delta_writer, log_replay

    corpus = _wav_df(spark, [1, 2]).localCheckpoint()
    path = str(tmp_path / "fpidx")
    audio_fp.build_fp_index(spark, corpus, path, frame=128, hop=64, fan_out=2)
    v = delta_writer.current_version(path)
    assert v == 2
    acts = log_replay.read_commit(path, v)
    cfg = next(a["metaData"]["configuration"] for a in acts if "metaData" in a)
    assert {k: cfg[k] for k in audio_fp._FP_PROPS} == {
        "fp.frame": "128", "fp.hop": "64", "fp.fanOut": "2",
    }


def test_unstamped_index_refuses_loudly(spark, tmp_path):
    """ADVICE r11: probes/upserts against an index whose parameter
    properties are missing (crash between data write and stamp, or a
    hand-built table) must raise, never fall back to module defaults —
    mixed-parameter hashes would vote together and return wrong/empty
    matches silently."""
    from delta_lake_health_spark.sources import delta_writer

    corpus = _wav_df(spark, [1, 2]).localCheckpoint()
    path = str(tmp_path / "raw")
    fps = audio_fp.audio_fingerprints(corpus)
    delta_writer.write(spark, fps, path, mode="overwrite", cluster_by=["fp"])
    clips = _clips_from(spark, corpus, [1]).localCheckpoint()
    with pytest.raises(ValueError, match="missing analysis"):
        audio_fp.match_against_index(spark, path, clips)
    with pytest.raises(ValueError, match="missing analysis"):
        audio_fp.upsert_fp_index(spark, path, corpus)


def test_auto_compaction_after_track_upserts(spark, tmp_path):
    """The self-maintaining-artifact contract (VERDICT r12 #3): the
    build stamps delta.autoOptimize.autoCompact alongside the analysis
    params, so a run of small track upserts triggers an automatic
    OPTIMIZE commit (dataChange=false adds) once minNumFiles is
    crossed — and probes stay bit-identical through it."""
    from delta_lake_health_spark.sources import delta_writer, log_replay
    from delta_lake_health_spark.sources.delta_log import DeltaLog

    corpus = _wav_df(spark, list(range(1, 17))).localCheckpoint()
    path = str(tmp_path / "fpidx")
    audio_fp.build_fp_index(spark, corpus.where(F.col("media_id") <= 4), path)
    assert (
        DeltaLog(spark, path)
        .metadata()["configuration"]
        .get("delta.autoOptimize.autoCompact")
        == "true"
    )
    delta_writer.set_table_property(
        spark, path, "delta.autoOptimize.minNumFiles", "6"
    )
    for lo in range(5, 17, 2):
        audio_fp.upsert_fp_index(
            spark,
            path,
            corpus.where(
                (F.col("media_id") >= lo) & (F.col("media_id") < lo + 2)
            ),
        )
    log = DeltaLog(spark, path)
    hist = log.history().collect()
    assert "OPTIMIZE" in [r.operation for r in hist], (
        "no automatic compaction fired"
    )
    opt_v = next(
        r.version for r in hist if r.operation == "OPTIMIZE"
    )
    acts = log_replay.read_commit(path, int(opt_v))
    adds = [a["add"] for a in acts if "add" in a]
    removed = [a["remove"] for a in acts if "remove" in a]
    assert adds and all(a.get("dataChange") is False for a in adds)
    assert len(removed) > len(adds)
    # probes against the compacted artifact = the in-session match over
    # the full corpus
    clips = _clips_from(spark, corpus, [3, 9, 15]).localCheckpoint()
    served = audio_fp.match_against_index(spark, path, clips)
    in_session = audio_fp.match_fingerprints(
        audio_fp.audio_fingerprints(clips),
        audio_fp.audio_fingerprints(corpus),
    )
    assert _match_rows(served) == _match_rows(in_session)
